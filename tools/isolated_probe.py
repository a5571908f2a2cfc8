"""Isolated per-query timing: min-of-N noop-sink passes (guide §1.4)
with a busy-loop steal stamp per pass, no gates — the paired A/B
instrument for optimization rounds (run the same probe from the old
and new trees in back-to-back windows on the same box).

Usage: python tools/isolated_probe.py [passes] q44_minhash_lsh_dedup ...
Env: SPARK_GRAFT_SF_DIR (data), SPARK_GRAFT_CPUS (cores).
Prints one JSON line: {query: {"passes": [...], "min": s, "calib": [...]}};
``n_jobs``/``n_stages`` are summed over the accepted passes. Exits with an
error after ``MAX_GATE_REJECTS`` consecutive steal-gate rejections.
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: consecutive steal-gate rejections before the probe gives up on a host
#: that stays contaminated (each rejection sleeps 2 s)
MAX_GATE_REJECTS = 60


def _calib1(n: int = 2_000_000) -> float:
    t0 = time.perf_counter()
    x = 0
    for i in range(n):
        x += i
    return round(time.perf_counter() - t0, 4)


def main() -> None:
    passes = int(sys.argv[1]) if sys.argv[1].isdigit() else 3
    names = sys.argv[2:] if sys.argv[1].isdigit() else sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from rs_graphdb_spark.session import get_spark

    import __spark_entry__ as entry_mod

    spark = get_spark("isolated_probe")
    qs = entry_mod._legacy_queries()
    entry_mod._graph(spark, sf_dir)
    spark.range(spark.sparkContext.defaultParallelism * 4).mapInPandas(
        lambda it: it, schema="id long"
    ).write.mode("overwrite").format("noop").save()

    # per-run derived steal gate, the bench.py discipline: floor = min of
    # 12 startup samples, bad = 1.35 × floor (never below 0.07)
    floor = min(_calib1() for _ in range(12))
    bad = max(0.07, round(1.35 * floor, 4))

    out = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"warm {name}")
        qs[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
        ts, cal, accepted = [], [], []
        n_jobs = n_stages = 0
        p = rejects = 0
        while p < max(passes, 8):
            c0 = _calib1()
            if c0 >= bad:
                rejects += 1
                if rejects >= MAX_GATE_REJECTS:
                    raise SystemExit(
                        f"isolated_probe: {name}: {rejects} consecutive "
                        f"calibration samples over the gate {bad} s")
                time.sleep(2.0)
                continue
            rejects = 0
            sc = spark.sparkContext
            group = f"{name}-pass{p}"
            sc.setJobGroup(group, name)
            t0 = time.time()
            qs[name](spark, sf_dir).write.mode("overwrite").format(
                "noop").save()
            t = round(time.time() - t0, 3)
            sc.setJobGroup(None, None)
            tracker = sc.statusTracker()
            job_ids = tracker.getJobIdsForGroup(group)
            c1 = _calib1()
            ts.append(t)
            cal.append([c0, c1])
            p += 1
            if max(c0, c1) < bad:
                accepted.append(t)
                n_jobs += len(job_ids)
                for jid in job_ids:
                    info = tracker.getJobInfo(jid)
                    if info is not None:
                        n_stages += len(info.stageIds)
                s = sorted(accepted)
                if len(s) >= 2 and s[1] <= 1.10 * s[0] and p >= passes:
                    break
        best = min(accepted) if accepted else min(ts)
        out[name] = {"passes": ts, "accepted": accepted, "min": best,
                     "calib": cal, "gate": bad,
                     "n_jobs": n_jobs, "n_stages": n_stages}
        print(json.dumps({name: out[name]}), flush=True)
    print("RESULT " + json.dumps(out))


if __name__ == "__main__":
    main()
