"""spark-graft workload benchmark: one workload, one seed, one JSON result.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload serve_mixed --seed 1 --seconds 25 --trace 0

Builds its inputs under ``.bench_build/perfbench`` (once per checkout), draws
the op sequence from ``--seed``, computes every expected answer with DuckDB,
then starts the engine on ``local[nproc]``, sets it up several times, runs
the ops, checks every answer and prints a report line followed by the
result line (the last line of stdout). ``--trace 1`` runs the same ops with
spans and the Spark event log on and reports per-layer metrics instead.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import pathlib
import platform
import resource
import shlex
import shutil
import statistics
import sys
import threading
import time

HERE = pathlib.Path(__file__).resolve().parent
ROOT = pathlib.Path.cwd()
WORKLOADS = ("interactive_read", "serve_mixed", "batch_small", "batch_large")
SETUP_REPS = 3
HEAP_GB = {"batch_large": 6}
DEFAULT_HEAP_GB = 4
#: seconds before a hung run is killed; batch_large is run by hand only
WATCHDOG_S = {"batch_large": 3600.0}


def _die(msg: str, code: int = 2) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return code


def _mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _source_commit() -> str:
    """git HEAD when the checkout is a repository, else a digest of the
    engine sources (the benchmark also runs from plain exported trees)."""
    import hashlib
    import subprocess

    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    h = hashlib.sha256()
    for f in sorted((ROOT / "rs_graphdb_spark").rglob("*.py")):
        h.update(f.read_bytes())
    return "src-" + h.hexdigest()[:16]


def _configure_env(work: pathlib.Path, run_id: str, cpus: int, heap_gb: int,
                   trace: bool) -> pathlib.Path | None:
    """Spark and Python settings for this run; everything stays in ``work``."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = f"{heap_gb}g"
    # Python workers import the engine from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    conf = {
        "spark.local.dir": str(tmp),
        # no hsperfdata under /tmp: the run writes only inside the checkout
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }
    log_dir = None
    if trace:
        log_dir = work / "eventlog" / run_id
        log_dir.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir.as_uri(),
            "spark.eventLog.compress": "false",
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()) + " pyspark-shell"
    return log_dir


def _latency_block(xs: list[float]) -> dict:
    """p50 and the highest percentile with at least ten samples beyond it
    (p90 once there are 100 samples), with the sample count."""
    out = {"n": len(xs), "p50_s": statistics.median(xs)}
    if len(xs) >= 20:
        k = int(100 * (1 - 10 / len(xs)))
        out[f"p{k}_s"] = statistics.quantiles(xs, n=100, method="inclusive")[k - 1]
    return out


def _jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def _shutdown_jvm() -> None:
    """Stop the gateway JVM this process launched and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 — the JVM may already be gone
        pass
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits on EOF from its parent
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "rs_graphdb_spark" / "__init__.py").is_file() or \
            not (ROOT / "bench.py").is_file():
        return _die(f"{ROOT} is not a spark-graft checkout (run from its root)")
    sys.path[:0] = [str(HERE), str(ROOT)]
    try:
        import duckdb  # noqa: F401
        import pyspark  # noqa: F401

        import bench
        import data
        import oracle as oracle_mod
        import plan as plan_mod
        import workloads as wl
        from spans import Tracer
    except ImportError as exc:
        return _die(f"missing dependency: {exc}")

    # a run that hangs must still end within its time limit; the JVM
    # exits on its own when this process dies (its stdin pipe closes)
    watchdog = threading.Timer(WATCHDOG_S.get(args.workload, 175.0), lambda: os._exit(3))
    watchdog.daemon = True
    watchdog.start()

    w = args.workload
    phases = {"start": time.perf_counter()}
    work = ROOT / ".bench_build" / "perfbench"
    run_id = f"{w}-s{args.seed}-t{args.trace}-{os.getpid()}"
    cpus = len(os.sched_getaffinity(0))
    heap_gb = HEAP_GB.get(w, DEFAULT_HEAP_GB)

    # ---- inputs and oracle (not timed, not part of setup_s) ---------------
    if w == "batch_large":
        sf_dir, manifest = data.ensure_sf1(work, ROOT)
    else:
        sf_dir, manifest = data.ensure_sf01(work)
    small = manifest if w != "batch_large" else data.ensure_sf01(work)[1]
    from rs_graphdb_spark.functions.dedup import _NGRAM_PACKED_MIN_POSTINGS

    if not small["postings"] < _NGRAM_PACKED_MIN_POSTINGS:
        return _die("sf0.1 corpus no longer below the packed n-gram threshold")
    if w == "batch_large" and not manifest["postings"] >= _NGRAM_PACKED_MIN_POSTINGS:
        return _die("sf1 corpus below the packed n-gram threshold")

    plan = plan_mod.build(w, args.seed, args.seconds)
    warm = plan_mod.warmup(w, args.seed)
    oracle = oracle_mod.Oracle(sf_dir, work / f"oracle-{manifest['scale']}.json")
    stats_rows = None
    try:
        if w == "batch_small":
            expected = [{op.index: oracle.rows(oracle_mod.job_sql(op.type, op.params))
                         for op in plan[0]}]
        elif w == "batch_large":
            expected = [None]
        else:
            expected = [wl.expected_reads(oracle, ops) for ops in plan]
        expected_warm = [wl.expected_reads(oracle, ops) for ops in warm]
        if w == "serve_mixed":
            stats_rows = oracle.rows(oracle_mod.STATS)
    finally:
        oracle.close()

    phases["prep"] = time.perf_counter()
    log_dir = _configure_env(work, run_id, cpus, heap_gb, bool(args.trace))
    calib_start = bench._calib1()
    tracer = Tracer(enabled=bool(args.trace))

    # ---- set-up: session start + graph load (+ server start), repeated ----
    sess = wl.Session(str(sf_dir), w, tracer, str(work / "checkpoints" / run_id))
    setup_samples = []
    jvm_pid = None
    results = []
    warm_results = []
    final_errors: list[str] = []
    extra: dict = {}
    try:
        for rep in range(SETUP_REPS):
            if rep:
                sess.stop()
            t = time.perf_counter()
            sess.start()
            setup_samples.append(time.perf_counter() - t)
        phases["setup"] = time.perf_counter()
        jvm_pid = _jvm_pid(sess.spark)
        if args.trace:
            _install_wraps(tracer)

        # ---- warm-up reads, then the measured region ------------------------
        if w == "interactive_read":
            warm_results = wl.run_interactive(sess, warm[0], expected_warm[0], 0.0)
        t0 = phases["warmup"] = time.perf_counter()
        if w == "interactive_read":
            results = wl.run_interactive(sess, plan[0], expected[0], t0)
        elif w == "serve_mixed":
            results = wl.run_serve(sess, plan, expected, t0)
        else:
            results = wl.run_batch(sess, plan[0], expected[0], t0)
        phases["measure"] = time.perf_counter()
        wall = phases["measure"] - t0

        # ---- checks outside the timed region --------------------------------
        if w == "serve_mixed":
            final_errors += wl.serve_final_checks(sess, stats_rows, plan_mod.net_writes(plan))
        if w.startswith("batch"):
            final_errors += _pass_stability(results)
        if w == "batch_large":
            final_errors += _legacy_parity(sess, plan[0], results)
        if args.trace:
            extra["plan_nodes"] = _plan_nodes(sess.server.graph if sess.server else sess.graph)
            extra["derived"] = _derived_edge_rows(sess, tracer)
        peak_rss = _vm_hwm_mb(jvm_pid) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        phases["checks"] = time.perf_counter()
    finally:
        tracer.unwrap_all()
        sess.stop()
        _shutdown_jvm()
        shutil.rmtree(sess.checkpoint_dir, ignore_errors=True)
    phases["teardown"] = time.perf_counter()
    calib_end = bench._calib1()

    # ---- metrics --------------------------------------------------------------
    checked = warm_results + results
    attempted = len(checked) + len(final_checks_names(w))
    failed = sum(not r.ok for r in checked) + len(final_errors)
    lat = [r.latency for r in results]
    reads = [r.latency for r in results if r.op.kind == "read"]
    writes = [r.latency for r in results if r.op.kind == "write"]
    e2e = {
        "setup_s": statistics.median(setup_samples),
        "op_p50_s": statistics.median(lat),
        "ops_per_s": _closed_loop_throughput(results, len(plan)),
    }
    named = {  # the per-workload names users of each workload read
        "setup_s": e2e["setup_s"],
        "ops_per_s": e2e["ops_per_s"],
        "ops_per_s_wall": len(results) / wall,
        "peak_rss_mb": peak_rss,
        "failed_ratio": failed / attempted,
    }
    if reads:
        named["read"] = _latency_block(reads)
    if writes:
        named["write"] = _latency_block(writes)
    if w.startswith("batch"):
        for job in ("analytics", "corpus"):
            per_pass = _per_pass(results, job)
            named[f"{job}_s"] = statistics.median(per_pass)
            named[f"{job}_s_passes"] = per_pass
    report = {
        "workload": w, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "metrics": named, "setup_samples_s": setup_samples, "wall_s": wall,
        "phases_s": {k: phases[k] - prev for prev, k in zip(phases.values(), list(phases)[1:])},
        "host": {
            "cpus": cpus, "driver_heap_gb": heap_gb, "ram_mb": round(_mem_total_mb()),
            "spark": pyspark.__version__, "python": platform.python_version(),
            "commit": _source_commit(), "calib1_start_s": calib_start,
            "calib1_end_s": calib_end, "master": f"local[{cpus}]",
            "clients": len(plan),
        },
        "data": manifest,
        "failures": [
            {"phase": phase, "op": r.op.index, "client": r.op.client, "type": r.op.type,
             "error": r.error}
            for phase, rs in (("warmup", warm_results), ("measured", results))
            for r in rs if not r.ok
        ] + [{"check": e} for e in final_errors],
        "ops": [
            {"i": r.op.index, "c": r.op.client, "kind": r.op.kind, "type": r.op.type,
             "t": round(r.start, 6), "s": round(r.latency, 6), "ok": r.ok, "fp": r.fp,
             **r.info}
            for r in results
        ],
    }
    out_dir = work / "results"
    out_dir.mkdir(parents=True, exist_ok=True)
    if args.trace:
        from layers import PER_LAYER, per_layer_metrics

        spans_path = work / "traces" / f"{run_id}.spans.json"
        spans_path.parent.mkdir(parents=True, exist_ok=True)
        tracer.dump(spans_path)
        metrics, seconds = per_layer_metrics(tracer.spans, log_dir, results, extra,
                                             len(plan) * wall)
        report["per_layer"] = metrics
        report["per_layer_seconds"] = seconds
        report["spans_file"] = str(spans_path.relative_to(ROOT))
        report["tracing_overhead"] = _overhead(out_dir, w, args.seconds, e2e)
        values = metrics
        units = PER_LAYER
    else:
        values = e2e
        units = {"setup_s": "s", "op_p50_s": "s", "ops_per_s": "1/s"}
    (out_dir / f"{run_id}.json").write_text(json.dumps({**report, "e2e": e2e}, indent=1))
    print(json.dumps({"report": {k: v for k, v in report.items() if k != "ops"}}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }))
    return 0


def _closed_loop_throughput(results, clients: int) -> float:
    """Ops/s of ``clients`` closed-loop clients by Little's law, X = N / R,
    where R is the mix-weighted mean of each op type's median latency.
    Medians per type keep one host stall from moving the whole figure;
    the weights are the declared mix, which every run realizes exactly."""
    by_type: dict[tuple, list[float]] = {}
    for r in results:
        by_type.setdefault((r.op.type, r.info.get("route")), []).append(r.latency)
    n = sum(len(v) for v in by_type.values())
    mean_r = sum(len(v) * statistics.median(v) for v in by_type.values()) / n
    return clients / mean_r


def final_checks_names(workload: str) -> list[str]:
    """End-of-run checks, each counted as one attempted op."""
    return {"serve_mixed": ["stats"], "batch_small": ["passes"],
            "batch_large": ["passes", "legacy_parity"]}.get(workload, [])


def _per_pass(results, job: str) -> list[float]:
    passes: dict[int, float] = {}
    n = len({r.op.type for r in results})
    for r in results:
        if r.info.get("job") == job:
            k = r.op.index // n
            passes[k] = passes.get(k, 0.0) + r.latency
    return [passes[k] for k in sorted(passes)]


def _pass_stability(results) -> list[str]:
    """Every pass must give the same order-independent result fingerprint."""
    by_type: dict[str, set] = {}
    for r in results:
        if r.ok:
            by_type.setdefault(r.op.type, set()).add(r.fp)
    return [f"{t}: fingerprints differ across passes {sorted(fps)}"
            for t, fps in by_type.items() if len(fps) > 1]


def _legacy_parity(sess, ops, results) -> list[str]:
    """The auto-routed n-gram pairs must equal a forced legacy run."""
    from oracle import fingerprint
    from workloads import _job

    auto = next((r for r in results if r.op.type == "ngram_jaccard_pairs" and r.ok), None)
    if auto is None:
        return ["no successful auto-route n-gram run to compare"]
    shingle = next(op for op in ops if op.type == "shingle_sets")
    ngram = next(op for op in ops if op.type == "ngram_jaccard_pairs")
    sets: list = []
    _job(sess, shingle, sets)
    forced = dataclasses.replace(ngram, params={**ngram.params, "engine": "legacy"})
    fp = fingerprint([list(r) for r in _job(sess, forced, sets)])
    return [] if fp == auto.fp else [f"n-gram auto {auto.fp} != legacy {fp}"]


def _install_wraps(tracer) -> None:
    """Traced run only: rebind engine entry points to span-recording wrappers."""
    from rs_graphdb_spark.cypher import compiler
    from rs_graphdb_spark.operators import dml, traversal
    from rs_graphdb_spark.sources import http_server

    tracer.wrap(compiler, "parse_cypher", "cypher.parse")
    tracer.wrap(compiler.Compiler, "run", "cypher.compile")
    tracer.wrap(traversal, "expand", "traversal.expand")
    tracer.wrap(traversal, "shortest_path_length", "traversal.shortest_path_length")
    for name in ("create_nodes", "delete_nodes", "set_props", "merge_nodes",
                 "update_node_props", "update_rel_props"):
        tracer.wrap(dml, name, f"dml.{name}")
    srv = http_server.GraphHTTPServer
    for name in ("_create_nodes", "_create_rels", "_update_node", "_delete_node"):
        tracer.wrap(srv, name, f"dml.server{name}")
    tracer.wrap(http_server, "json_query", "query.build.http_query")
    tracer.wrap(srv, "_route", "http.server",
                lambda self, method, path, body_fn: {"route": _route_name(method, path)})
    tracer.wrap(srv, "_route_locked", "http.engine",
                lambda self, method, path, body_fn: {"route": _route_name(method, path)})


def _route_name(method: str, path: str) -> str:
    if path.startswith("/nodes/"):
        if path.endswith("/neighbors"):
            return "neighbors"
        return "put_node" if method == "PUT" else "node"
    return {"/batch/nodes": "batch_nodes", "/rels": "rels", "/cypher": "cypher",
            "/query": "query", "/stats": "stats"}.get(path, path.strip("/") or "root")


def _derived_edge_rows(sess, tracer) -> dict[str, int]:
    """Traced run only: what re-deriving each derived edge set costs."""
    out = {}
    for name in ("SUPPLIED_BY", "KNOWS", "SEGMENT_RING", "NEXT_ORDER"):
        with tracer.span(f"loaders.derived.{name}"):
            out[name] = sess.graph.edges[name].df.count()
    return out


def _plan_nodes(g) -> int:
    """Logical-plan node count summed over every served frame."""
    frames = list(g.nodes.values()) + [es.df for es in g.edges.values()]
    return sum(
        len(df._jdf.queryExecution().logical().treeString().rstrip("\n").split("\n"))
        for df in frames
    )


def _overhead(out_dir: pathlib.Path, workload: str, seconds: float, traced: dict) -> dict:
    """Traced ÷ untraced − 1 per end-to-end metric, against the median of the
    untraced runs of this workload recorded in this checkout."""
    base: dict[str, list[float]] = {}
    for f in out_dir.glob(f"{workload}-s*-t0-*.json"):
        try:
            rep = json.loads(f.read_text())
        except ValueError:
            continue
        if rep.get("seconds") == seconds:
            for k, v in rep["e2e"].items():
                base.setdefault(k, []).append(v)
    if not base:
        return {"status": "no untraced run of this workload in this checkout yet",
                "traced": traced}
    return {"untraced_runs": len(next(iter(base.values()))), "traced": traced,
            "ratio_minus_1": {k: v / statistics.median(base[k]) - 1.0
                              for k, v in traced.items()
                              if base.get(k) and statistics.median(base[k])}}


if __name__ == "__main__":
    sys.exit(main())
