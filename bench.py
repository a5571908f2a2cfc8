"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line.

Query set mirrors the reference's Criterion workload shapes (BASELINE.md):
full label scan; indexed point lookup; 1-hop traversal; 3-hop chain; plus
grouped aggregation, var-length expansion, full-text search, and the
training-pipeline ops once they land. Execution sink is the noop writer —
measures full pipeline execution without driver-collect overhead.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "q01_label_scan",       # full_scan shape
    "q03_point_lookup_text",  # indexed_query shape
    "q10_one_hop_count",    # traversal_one_hop shape
    "q12_three_hop_chain",  # traversal_three_hops shape
    "q13_grouped_agg",      # aggregation
    "q25_var_length",       # iterative BFS expansion
    "q27_fulltext_or",      # full-text search
    "q30_time_bucket",      # event-time bucketing
    # training-pipeline ops (first-class at-scale surface)
    "q43_exact_dedup",      # fingerprint hash-groupBy
    "q44_minhash_lsh_dedup",  # shingle→minhash→band→verify
    "q46_ngram_jaccard",    # sparse similarity join
    "q48_knn_bruteforce",   # cosine top-k
    "q51_quality_scores",   # text quality features
    "q53_multimodal_features",  # Arrow-batched mapInPandas
    "q80_sessionize",       # gaps-and-islands window
    "q81_asof_join",        # union-merge as-of join
    "q85_pack_sequences",   # sharded token packing
    "q86_interval_join",    # bucket-banded range join
]

# Measured and reported but NOT counted in the headline total — the
# headline set is frozen for round-over-round / BASELINE.md
# comparability; these are the round-3 cleaning-stage operators.
EXTRA = [
    "q102_pii_scrub",
    "q103_line_dedup",
    "q104_quality_classifier",
    "q105_shuffle_shard",
    "q106_token_mixture",
    "q107_snapshot_diff",
    "q108_normalize_text",
    "q110_duplicate_spans",
    "q111_audio_pipeline",
    "q112_video_frames",
    "q113_url_psl",
    "q114_score_sample",
    # round-5 additions
    "q115_lm_perplexity",
    "q116_semantic_dedup",
    "q117_html_extract",
    "q118_repetition_signals",
    "q119_trigram_lm",
    # round-6 additions
    "q120_kn_lm",
    "q121_compression_ratio",
    # round-7 additions
    "q122_unicode_text",
    "q123_banded_ann",
    "q124_stream_join_batch_twin",
    "q125_bm25",
    "q126_bpe",
    "q127_pipeline",
    # round-8 additions
    "q128_warc_wet",
    # round-9 additions
    "q129_warc_stream",
    # round-10 additions
    "q130_tokpack",
]


def _loadavg1() -> float:
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except OSError:
        return -1.0


#: FLOOR for the steal gate: a single calibration sample at/above
#: max(this, _CALIB_REL × run-start floor) reads as a contaminated
#: window. r8 VERDICT item #2: endpoint-only sampling let bursts land
#: BETWEEN calibrations — passes are gated individually (see `measure`).
#: r10 measurement fix: the r8/r9 box idled at 0.061-0.065 so 0.07 was a
#: machine constant; the r10 box idles at 0.088-0.095 (40% slower
#: single-thread), so EVERY pass of the r10 baseline run was rejected
#: (276 rejections, all 46 queries "unquiet"). The threshold is now
#: derived PER RUN from a startup floor sample (min of
#: _CALIB_FLOOR_SAMPLES taken after the loadavg quiet wait — the min of
#: that many samples is the best available estimate of this host's
#: uncontaminated constant, since contamination only reads high), with
#: the old absolute constants kept as hard floors so a contaminated
#: startup can never LOOSEN the gate below r9 behavior on the r9 box.
_CALIB_BAD = 0.07
_CALIB_REL = 1.35  # idle spread on the r10 box: floor 0.088, quiet
                   # cluster ≤ 1.1×, storm tail ≥ 1.6× — 1.35 splits them


def _calib1(n: int = 2_000_000) -> float:
    """ONE busy-loop calibration sample, seconds. Host CPU steal is
    invisible to in-VM loadavg (r7 VERDICT #3); a fixed arithmetic loop
    has a machine-constant cost on an idle core, so a high sample IS
    contamination in that instant. Deliberately a single sample (not
    min-of-3): per-pass gating wants burst SENSITIVITY; a spurious high
    read just retries one pass."""
    t0 = time.perf_counter()
    x = 0
    for i in range(n):
        x += i
    return round(time.perf_counter() - t0, 4)


def _steal_calib() -> float:
    """Min-of-3 calibration (the artifact's start/end stamps — the
    cross-run comparable machine constant)."""
    return round(min(_calib1() for _ in range(3)), 4)


#: a bandwidth-calibration sample (min-of-2, see _bw_calib1) at/above
#: this reads as a bandwidth-contaminated window (r9 VERDICT item #1:
#: the busy loop is steal-sensitive but BANDWIDTH-blind — sf1 q46
#: committed 20.7 s in r9 from two clean-steal-calib passes that
#: isolated adjudication put at 13.3 s). Derived empirically
#: (PLANS.md "Bandwidth-axis quiet gate" + a 16-thread antagonist):
#: idle / idle-Spark min-of-2 samples cluster 0.041-0.067, the
#: post-heavy-job GC tail brushes 0.074, and sustained streaming
#: contention reads median 0.099 (two derivation runs; the
#: antagonist's own spin-up can leak one low sample). Set above the
#: quiet tail, below the contended median. r10: like _CALIB_BAD this is
#: now a hard floor under a per-run derived threshold (_BW_REL × the
#: startup floor) — the r10 box's bw floor is 0.048 with an idle tail
#: brushing 0.073, so the absolute 0.08 still separates there, but the
#: same host drift that broke the steal axis would break this one.
_BW_BAD = 0.08
_BW_REL = 1.6  # idle bw spread is wider than steal (page-cache /
               # prefetch state): r10 idle 0.048-0.073 ≈ 1.5×; r9
               # derivation put sustained contention at ≥ 2× idle floor

_CALIB_FLOOR_SAMPLES = 12

_BW_THREADS = 8
_BW_WORDS = 4 * 1024 * 1024  # 32 MB per buffer (float64)
_bw_bufs: list | None = None


def _bw_calib1() -> float:
    """ONE memory-bandwidth calibration sample, seconds: _BW_THREADS
    threads each stream 3×32 MB numpy buffers (a+b→c, 4 sweeps ≈ 3 GB
    of aggregate DRAM traffic). numpy releases the GIL inside np.add,
    so the threads genuinely load several memory channels at once — a
    machine constant on an idle box that inflates under the sustained
    outside-VM bandwidth pressure the single-thread busy loop cannot
    see (it stays cache-resident). Buffers are allocated once and
    reused. The sample is a MIN-OF-2 (unlike _calib1's single shot):
    thread start/join scheduling jitter produces false single-run
    highs, while the target — SUSTAINED bandwidth pressure — inflates
    both back-to-back runs; measured idle max 0.064 vs contended min
    0.086 under a streaming antagonist, with single runs overlapping."""
    import threading

    import numpy as np

    global _bw_bufs
    if _bw_bufs is None:
        _bw_bufs = [
            (np.ones(_BW_WORDS), np.ones(_BW_WORDS),
             np.empty(_BW_WORDS))
            for _ in range(_BW_THREADS)
        ]
        for a, b, c in _bw_bufs:  # fault the pages in OUTSIDE timing
            np.add(a, b, out=c)

    def once() -> float:
        start = threading.Barrier(_BW_THREADS + 1)

        def work(i: int) -> None:
            a, b, c = _bw_bufs[i]
            start.wait()
            for _ in range(4):
                np.add(a, b, out=c)

        ths = [threading.Thread(target=work, args=(i,))
               for i in range(_BW_THREADS)]
        for t in ths:
            t.start()
        start.wait()
        t0 = time.perf_counter()
        for t in ths:
            t.join()
        return time.perf_counter() - t0

    return round(min(once(), once()), 4)


def _bw_calib() -> float:
    """Min-of-3 bandwidth calibration (artifact start/end stamps)."""
    return round(min(_bw_calib1() for _ in range(3)), 4)


#: accepted values above this multiple of the cross-round best get an
#: extended re-measure and, if they stay high, a `band_flagged` entry
#: in the artifact (r9 VERDICT item #1).
_BAND_FACTOR = 1.5


def _artifact_dicts(path: str) -> list[dict]:
    """Parse a BENCH artifact that is either one pretty-printed JSON
    object (r1-r7) or several compact one-line objects (r8+)."""
    with open(path) as f:
        txt = f.read()
    try:
        d = json.loads(txt)
        return [d] if isinstance(d, dict) else []
    except ValueError:
        out = []
        for line in txt.splitlines():
            line = line.strip()
            if line.startswith("{"):
                try:
                    d = json.loads(line)
                except ValueError:
                    continue
                if isinstance(d, dict):
                    out.append(d)
        return out


def _prior_band(sf: float) -> dict[str, float]:
    """Per-query BEST committed value across the repo's BENCH history
    at this sf (r9 VERDICT item #1): contamination only ever reads
    HIGH, so the cross-round min is the best available estimate of
    true steady state. An accepted value > _BAND_FACTOR× this band is
    either a real regression or sub-gate-threshold contamination —
    both warrant extra passes and an explicit artifact flag instead of
    a silently-committed number (r9's sf1 q46: 20.7 s from clean-calib
    passes, true value 13.3 s)."""
    import glob

    band: dict[str, float] = {}
    here = os.path.dirname(os.path.abspath(__file__))
    for f in sorted(glob.glob(os.path.join(here, "BENCH*.json"))):
        dicts = _artifact_dicts(f)
        sfs = [d["sf"] for d in dicts if isinstance(d.get("sf"), float)]
        if not sfs or sfs[0] != sf:
            continue
        for d in dicts:
            for key in ("queries", "extra_queries"):
                for q, v in (d.get(key) or {}).items():
                    if isinstance(v, (int, float)) and v > 0:
                        band[q] = min(band.get(q, float(v)), float(v))
    return band


def _historical_floors() -> tuple[float | None, float | None]:
    """Best (lowest) per-axis calibration floors any committed BENCH
    artifact ever recorded for this repo (r10 ADVICE #4): the per-run
    derived gate threshold is REL × the startup floor, so a fully
    contaminated startup window would silently LOOSEN the gate above the
    host's true constant — the absolute r9 constants only bound it from
    below. The floors are host constants, not sf-dependent, so the min
    across every artifact (any sf) is the best uncontaminated estimate
    available. NB: across a HOST change the historical min tracks the
    fastest host ever used, so the suspect flag below is advisory (it
    flags, never rejects)."""
    import glob

    steal: float | None = None
    bw: float | None = None
    here = os.path.dirname(os.path.abspath(__file__))
    for f in sorted(glob.glob(os.path.join(here, "BENCH*.json"))):
        for d in _artifact_dicts(f):
            gate = d.get("calib_gate")
            if not isinstance(gate, dict):
                continue
            sfl, bfl = gate.get("steal_floor"), gate.get("bw_floor")
            if isinstance(sfl, (int, float)) and sfl > 0:
                steal = sfl if steal is None else min(steal, float(sfl))
            if isinstance(bfl, (int, float)) and bfl > 0:
                bw = bfl if bw is None else min(bw, float(bfl))
    return steal, bw


def _calib_gate() -> dict[str, float]:
    """Per-run gate thresholds on both axes (r10 measurement fix — see
    _CALIB_BAD): floor = min of N startup samples on each axis;
    threshold = REL × floor, never below the r9 absolute constants.
    Contamination only reads high, so the min over a dozen samples
    converges on the host's true machine constant even through a
    moderately noisy startup window. A pass is accepted only when its
    samples read below ``steal_bad`` AND ``bw_bad``."""
    steal_samples = [_calib1() for _ in range(_CALIB_FLOOR_SAMPLES)]
    bw_samples = [_bw_calib1() for _ in range(_CALIB_FLOOR_SAMPLES)]
    steal_floor = min(steal_samples)
    bw_floor = min(bw_samples)
    return {"steal_floor": steal_floor, "bw_floor": bw_floor,
            "steal_bad": max(_CALIB_BAD, round(_CALIB_REL * steal_floor, 4)),
            "bw_bad": max(_BW_BAD, round(_BW_REL * bw_floor, 4))}


#: a derived startup floor above this multiple of the best historical
#: floor marks the derivation itself as suspect (contaminated startup
#: window → loosened gate) in the artifact — visible, not silent.
_FLOOR_SUSPECT_FACTOR = 1.5


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    # Quiet-by-construction (r7 VERDICT item #5): sample loadavg BEFORE
    # the bench adds its own 32-thread load, and if the box is busy,
    # WAIT (bounded) for it to drain rather than writing a contaminated
    # round artifact — three rounds running the round-named artifact was
    # captured under load. Budget via SPARK_GRAFT_QUIET_WAIT_SEC
    # (default 600 s, poll every 10 s); on timeout the run proceeds but
    # self-flags quiet:false and records how long it waited.
    la_start = _loadavg1()
    quiet_waited = 0.0
    wait_budget = float(os.environ.get("SPARK_GRAFT_QUIET_WAIT_SEC", "600"))
    while la_start >= 2.0 and quiet_waited < wait_budget:
        time.sleep(10.0)
        quiet_waited += 10.0
        la_start = _loadavg1()
    gate = _calib_gate()
    steal_floor, bw_floor = gate["steal_floor"], gate["bw_floor"]
    calib_bad, bw_bad = gate["steal_bad"], gate["bw_bad"]
    # Sanity-check the derived floors against the repo's best committed
    # floors (r10 ADVICE #4): if the whole startup window was
    # contaminated, the floor reads high and the gate silently loosens —
    # flag that in the artifact so the run is adjudicated, not trusted.
    hist_steal, hist_bw = _historical_floors()
    floor_suspect: dict[str, list[float]] = {}
    if hist_steal is not None and steal_floor > _FLOOR_SUSPECT_FACTOR * hist_steal:
        floor_suspect["steal"] = [steal_floor, hist_steal]
    if hist_bw is not None and bw_floor > _FLOOR_SUSPECT_FACTOR * hist_bw:
        floor_suspect["bw"] = [bw_floor, hist_bw]
    steal_calib_start = _steal_calib()
    bw_calib_start = _bw_calib()
    band = _prior_band(sf)

    from rs_graphdb_spark.session import get_spark

    import __spark_entry__ as entry_mod

    spark = get_spark("bench")
    # Bench measures the lean per-operator forms (stable names comparable
    # across rounds/BASELINE.md); queries() holds the driver-facing folded
    # verification suites, which deliberately bundle several operators.
    qs = entry_mod._legacy_queries()

    # warm the graph projection (lazy plans, one-time parquet footer reads)
    entry_mod._graph(spark, sf_dir)

    # warm the Python worker pool (daemon fork + pandas/pyarrow import):
    # one-time process cost, amortized away on a long-lived cluster, that
    # would otherwise be charged to the first Pandas-UDF query.
    spark.range(spark.sparkContext.defaultParallelism * 4).mapInPandas(
        lambda it: it, schema="id long"
    ).write.mode("overwrite").format("noop").save()

    # Criterion-style warmup (the reference's harness warms 3s per bench
    # before sampling): run each query once to JIT the generated code,
    # then record the steady-state pass. Expression-heavy plans (128-hash
    # minhash signatures) otherwise charge one-time JVM JIT to the query.
    # Criterion samples repeatedly and reports the distribution; we take
    # min-of-N (N=2) per query — the best pass is the closest estimate of
    # steady-state cost on a box with background load.
    times: dict[str, float] = {}
    passes: dict[str, list[float]] = {}
    pass_calibs: dict[str, list[list[float]]] = {}
    rejected_passes: dict[str, int] = {}
    unquiet: list[str] = []
    band_flagged: dict[str, float] = {}
    # GLOBAL pre-pass wait budget: per-pass spins are 45 s each, which
    # on an all-day-storm box could add hours across ~44 queries × 6
    # passes — cap the total spent waiting; once exhausted, passes
    # start immediately and the calib gate alone adjudicates
    wait_pool = [float(os.environ.get("SPARK_GRAFT_PASS_WAIT_POOL",
                                      "420"))]

    def one_pass(name: str) -> float:
        t0 = time.time()
        qs[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
        return round(time.time() - t0, 3)

    def measure(name: str) -> float:
        # Storm-proof by construction (r8 VERDICT item #2 + r9 item
        # #1): calibrate BEFORE AND AFTER every measured pass on TWO
        # axes — the single-thread busy loop (CPU steal; cache-
        # resident, so bandwidth-BLIND) and the multi-thread buffer
        # stream (sustained outside-VM memory-bandwidth pressure —
        # the axis that let r9's sf1 q46 commit 20.7 s from "clean"
        # passes whose adjudicated value was 13.3 s). A pass whose
        # window reads >= _CALIB_BAD on steal OR >= _BW_BAD on
        # bandwidth is REJECTED. Keep measuring until TWO ACCEPTED
        # passes agree within 25%, cap 6 passes; a query that can't
        # produce that lands in `unquiet` and flips the artifact's
        # quiet flag — the committed number is then explicitly
        # untrusted rather than silently contaminated. Finally an
        # accepted value > _BAND_FACTOR× the cross-round best gets up
        # to 4 extra gated passes and, if it stays high, a
        # `band_flagged` entry in the artifact.
        accepted: list[float] = []
        ts: list[float] = []
        calibs: list[list[float]] = []
        rejected = 0

        def wait_quiet(budget: float = 45.0) -> tuple[float, float]:
            # don't START a pass inside a storm burst: spin (bounded
            # per pass AND by the run-global pool) until one sample
            # reads clean on BOTH axes; the post-pass samples still
            # catch bursts that begin mid-pass
            t0 = time.time()
            while True:
                c = _calib1()
                waited = time.time() - t0
                b = _bw_calib1()
                if ((c < calib_bad and b < bw_bad)
                        or waited > budget or wait_pool[0] <= 0):
                    wait_pool[0] -= waited
                    return c, b
                time.sleep(2.0)

        def gated_pass() -> tuple[float, bool]:
            c0, b0 = wait_quiet()
            t = one_pass(name)
            c1 = _calib1()
            b1 = _bw_calib1()
            ts.append(t)
            calibs.append([c0, c1, b0, b1])
            return t, (max(c0, c1) < calib_bad
                       and max(b0, b1) < bw_bad)

        while len(ts) < 6:
            t, ok = gated_pass()
            if ok:
                accepted.append(t)
                s = sorted(accepted)
                if len(s) >= 2 and s[1] <= 1.25 * s[0]:
                    break
            else:
                rejected += 1
        s = sorted(accepted)
        quiet_ok = len(s) >= 2 and s[1] <= 1.25 * s[0]
        best = s[0] if s else min(ts)
        prior = band.get(name)
        if s and prior and best > _BAND_FACTOR * prior:
            # extended re-measure (r9 VERDICT item #1): the gates read
            # clean but the value is far above everything this repo
            # has ever committed for this query at this sf — sub-
            # threshold contamination or a real regression; buy more
            # evidence either way
            for _ in range(4):
                t, ok = gated_pass()
                if ok:
                    accepted.append(t)
                    best = min(best, t)
                    if best <= _BAND_FACTOR * prior:
                        break
            if best > _BAND_FACTOR * prior:
                band_flagged[name] = round(prior, 3)
        passes[name] = ts
        pass_calibs[name] = calibs
        rejected_passes[name] = rejected
        if not quiet_ok:
            unquiet.append(name)
        return best

    for name in HEADLINE:
        if name not in qs:
            continue
        qs[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
    for name in HEADLINE:
        if name in qs:
            times[name] = measure(name)

    extra: dict[str, float] = {}
    for name in EXTRA:
        if name not in qs:
            continue
        qs[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
        extra[name] = measure(name)

    # Load self-annotation: this box sees outside-VM load spikes that
    # have twice produced ~2× headline artifacts judged noise after the
    # fact (r4 18.4 s, r5 20.8 s). Record the machine loadavg and the
    # per-query pass spread so a contaminated run self-adjudicates: high
    # loadavg1/loadavg5 or large max pass-spread ⇒ rerun on a quiet box
    # before reading the total as a regression.
    try:
        with open("/proc/loadavg") as f:
            la1, la5, la15 = (float(x) for x in f.read().split()[:3])
    except OSError:  # non-Linux fallback
        la1 = la5 = la15 = -1.0
    steal_calib_end = _steal_calib()
    bw_calib_end = _bw_calib()
    spread = {
        n: round(max(ts) - min(ts), 3) for n, ts in passes.items()
    }
    total = round(sum(times.values()), 3)
    # COMPACT headline line FIRST (r6 VERDICT item #3), full detail on a
    # second line, and the compact line REPEATED LAST: the committed r6
    # artifact shows the driver keeps only the final 2000 bytes of stdout
    # and json-parses a line out of them — r6's single grown line was
    # head-clipped to unparseable. The compact line (~0.8 KB) is emitted
    # both first (human/stream order) and last (guaranteed complete
    # inside any tail window ≥ its size), and carries everything needed
    # to adjudicate the run: total, per-query times, start loadavg and
    # worst pass spread (quiet = trustworthy).
    compact = json.dumps({
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": sf,
        "loadavg1_start": la_start,
        "max_pass_spread_sec": round(max(spread.values()), 3) if spread else 0.0,
        # quiet = loadavg gate passed AND every query produced two
        # calib-accepted agreeing passes (r8 VERDICT item #2 — the
        # round artifact is quiet BY CONSTRUCTION on the steal axis or
        # it says so here)
        "quiet": (0.0 <= la_start < 2.0) and not unquiet,
        "unquiet_queries": sorted(unquiet),
        # queries whose gated value stayed > _BAND_FACTOR× the
        # cross-round best after extended re-measure (r9 VERDICT item
        # #1) — value maps query → that historical best; read the
        # committed number as regression-or-residual-contamination
        "band_flagged": band_flagged,
        "calib_rejected_passes": sum(rejected_passes.values()),
        "quiet_wait_sec": quiet_waited,
        # steal proxy (r7 VERDICT #3/#5): single-thread busy-loop calib
        # time at start/end — host CPU steal shows up here even when
        # loadavg reads 0; ratio between artifacts = contention factor.
        "steal_calib_sec": [steal_calib_start, steal_calib_end],
        # bandwidth proxy (r9 VERDICT item #1): multi-thread buffer-
        # stream calib at start/end — sustained outside-VM memory
        # pressure shows up here even when the busy loop reads clean.
        "bw_calib_sec": [bw_calib_start, bw_calib_end],
        # r10 measurement fix: per-run gate thresholds (rel × startup
        # floor, never below the r9 absolute constants) — the r9
        # constants were machine constants of the r9 HOST and rejected
        # every pass on the slower r10 host.
        "calib_gate": {"steal_floor": steal_floor, "bw_floor": bw_floor,
                       "steal_bad": calib_bad, "bw_bad": bw_bad},
        # r11 (r10 ADVICE #4): axis → [this run's derived floor, best
        # historical floor] when the derivation reads >1.5× the best
        # floor ever committed — a contaminated startup window loosens
        # the per-run gate, and that must be visible in the artifact.
        "floor_suspect": floor_suspect,
    })
    print(compact)
    print(json.dumps({
        "metric": "headline_detail",
        "extra_queries": extra,
        "runs_per_query": "until 2 calib-accepted passes agree in 25%"
                          " (cap 6); per-pass gates: steal"
                          f" {calib_bad} / bandwidth {bw_bad}"
                          f" (= max(abs floor, rel x run floor"
                          f" {steal_floor}/{bw_floor}));"
                          f" band flag at {_BAND_FACTOR}x cross-round"
                          " best (+<=4 extended passes);"
                          " pass_calib rows [steal0, steal1, bw0, bw1]",
        "rejected_passes": {n: r for n, r in rejected_passes.items() if r},
        "loadavg_start": la_start,
        "loadavg_end": [la1, la5, la15],
        "pass_spread_sec": spread,
        "pass_calib_sec": pass_calibs,
    }))
    print(compact)


if __name__ == "__main__":
    main()
