"""Isolated per-query timing: min-of-N noop-sink passes (guide §1.4),
each pass gated on bench.py's two calibration axes (busy-loop steal and
multi-thread memory bandwidth) — the paired A/B instrument for
optimization rounds (run the same probe from the old and new trees in
back-to-back windows on the same box).

Usage: python tools/isolated_probe.py [passes] q44_minhash_lsh_dedup ...
Env: SPARK_GRAFT_SF_DIR (data), SPARK_GRAFT_CPUS (cores).
Prints one JSON line per query, then ``RESULT`` and all of them:
{query: {"passes": [...], "accepted": [...], "min": s,
"calib": [[steal0, steal1], ...], "gate": steal_bad,
"bw_calib": [[bw0, bw1], ...], "bw_gate": bw_bad,
"n_jobs": n, "n_stages": n}}; ``n_jobs``/``n_stages`` are summed over
the accepted passes. :func:`gated_passes` is the pass loop; the gate
thresholds come from ``bench._calib_gate``.
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _bw_calib1, _calib1, _calib_gate  # noqa: E402

#: consecutive gate rejections before the probe gives up on a host that
#: stays contaminated (each rejection sleeps 2 s)
MAX_GATE_REJECTS = 60


def gated_passes(sc, name: str, run, gate: dict, passes: int = 3) -> dict:
    """Time ``run()`` in gated passes until at least ``passes`` ran and
    two accepted passes agree within 10% (cap ``max(passes, 8)``). A
    pass starts only when both axes read below their gate; it is
    accepted when the samples after it do too. Each pass runs under its
    own Spark job group on ``sc`` so its jobs and stages are counted."""
    steal_bad, bw_bad = gate["steal_bad"], gate["bw_bad"]
    ts, cal, bw_cal, accepted = [], [], [], []
    n_jobs = n_stages = 0
    p = rejects = 0
    while p < max(passes, 8):
        c0, b0 = _calib1(), _bw_calib1()
        if c0 >= steal_bad or b0 >= bw_bad:
            rejects += 1
            if rejects >= MAX_GATE_REJECTS:
                raise SystemExit(
                    f"isolated_probe: {name}: {rejects} consecutive "
                    f"calibration samples over the gate "
                    f"(steal {steal_bad} s, bw {bw_bad} s)")
            time.sleep(2.0)
            continue
        rejects = 0
        group = f"{name}-pass{p}"
        sc.setJobGroup(group, name)
        t0 = time.time()
        run()
        t = round(time.time() - t0, 3)
        sc.setJobGroup(None, None)
        tracker = sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(group)
        c1, b1 = _calib1(), _bw_calib1()
        ts.append(t)
        cal.append([c0, c1])
        bw_cal.append([b0, b1])
        p += 1
        if max(c0, c1) < steal_bad and max(b0, b1) < bw_bad:
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
    return {"passes": ts, "accepted": accepted, "min": best,
            "calib": cal, "gate": steal_bad,
            "bw_calib": bw_cal, "bw_gate": bw_bad,
            "n_jobs": n_jobs, "n_stages": n_stages}


def main() -> None:
    args = sys.argv[1:]
    passes = int(args.pop(0)) if args and args[0].isdigit() else 3
    if not args:
        print("usage: python tools/isolated_probe.py [passes] query_name ...",
              file=sys.stderr)
        raise SystemExit(2)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from rs_graphdb_spark.session import get_spark

    import __spark_entry__ as entry_mod

    spark = get_spark("isolated_probe")
    qs = entry_mod._legacy_queries()
    entry_mod._graph(spark, sf_dir)
    spark.range(spark.sparkContext.defaultParallelism * 4).mapInPandas(
        lambda it: it, schema="id long"
    ).write.mode("overwrite").format("noop").save()
    gate = _calib_gate()

    def sink(name: str) -> None:
        qs[name](spark, sf_dir).write.mode("overwrite").format("noop").save()

    out = {}
    for name in args:
        spark.sparkContext.setJobDescription(f"warm {name}")
        sink(name)
        out[name] = gated_passes(spark.sparkContext, name,
                                 lambda: sink(name), gate, passes)
        print(json.dumps({name: out[name]}), flush=True)
    print("RESULT " + json.dumps(out))


if __name__ == "__main__":
    main()
