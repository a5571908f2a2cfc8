"""Structured Streaming ops: streaming results must equal the batch run of
the same transformation (the oracle pattern for stream semantics)."""

import shutil
import uuid
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from rs_graphdb_spark.streaming.ops import (
    append_edge_sink,
    read_event_stream,
    stateful_running_totals,
    windowed_event_counts,
)

SF = "/root/testdata/sf0.001"
TMP = Path(__file__).resolve().parents[1] / ".tmp"


@pytest.fixture()
def tmpdir():
    d = TMP / uuid.uuid4().hex
    d.mkdir(parents=True)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _events_dir(spark, tmpdir) -> str:
    # stage the fixture as a one-file stream source directory
    src = spark.read.parquet(f"{SF}/events.parquet")
    out = str(tmpdir / "events_in")
    src.coalesce(1).write.parquet(out)
    return out


def test_windowed_counts_stream_equals_batch(spark, tmpdir):
    events_dir = _events_dir(spark, tmpdir)
    stream = read_event_stream(spark, events_dir)
    q = (
        windowed_event_counts(stream)
        .writeStream.format("memory").queryName("win_counts")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {
        (r["win_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.table("win_counts").collect()
    }
    batch = windowed_event_counts(
        spark.read.parquet(events_dir), streaming=False
    )
    exp = {
        (r["win_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in batch.collect()
    }
    assert got == exp and len(got) > 0


def test_stateful_running_totals(spark, tmpdir):
    events_dir = _events_dir(spark, tmpdir)
    stream = read_event_stream(spark, events_dir)
    q = (
        stateful_running_totals(stream)
        .writeStream.format("memory").queryName("running")
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {r["user_id"]: (r["n_events"], r["total_value"])
           for r in spark.table("running").collect()}
    exp = {
        r["user_id"]: (r["n"], r["tv"])
        for r in spark.read.parquet(events_dir)
        .groupBy("user_id")
        .agg(F.count("*").alias("n"),
             F.round(F.sum(F.coalesce("value", F.lit(0.0))), 4).alias("tv"))
        .collect()
    }
    assert got == exp and len(got) > 0


def test_append_edge_sink(spark, tmpdir):
    events_dir = _events_dir(spark, tmpdir)
    out = str(tmpdir / "sink")
    ckpt = str(tmpdir / "ckpt")
    stream = read_event_stream(spark, events_dir)
    q = append_edge_sink(stream.select("event_id", "user_id"), out, ckpt)
    q.awaitTermination(120)
    n_src = spark.read.parquet(events_dir).count()
    assert spark.read.parquet(out).count() == n_src


def test_session_windows_stream_equals_batch(spark, tmpdir):
    from rs_graphdb_spark.streaming.ops import session_window_stats

    events_dir = _events_dir(spark, tmpdir)
    stream = read_event_stream(spark, events_dir)
    name = f"sess_{uuid.uuid4().hex[:8]}"
    q = (
        session_window_stats(stream)
        .writeStream.format("memory").queryName(name)
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(300)
    got = {tuple(r) for r in spark.table(name).collect()}

    batch = spark.read.parquet(f"{SF}/events.parquet")
    want = {tuple(r) for r in session_window_stats(batch, streaming=False).collect()}
    assert got == want and len(got) > 0


def test_stream_results_batch_end_markers(spark):
    """QueryStream parity: rows interleaved with batch_end markers whose
    progress fractions ramp to exactly 1.0."""
    from rs_graphdb_spark.sources.export import stream_results

    df = spark.range(250).select(F.col("id"))
    items = list(stream_results(df, batch_size=100))
    rows = [r for kind, r in items if kind == "row"]
    ends = [m for kind, m in items if kind == "batch_end"]
    assert len(rows) == 250
    assert [m["batch_index"] for m in ends] == [0, 1, 2]
    assert [m["rows"] for m in ends] == [100, 100, 50]
    assert ends[-1]["progress"] == 1.0
    assert ends[0]["progress"] == pytest.approx(100 / 250)
    # empty result: single end-marker at progress 1.0
    empty = list(stream_results(spark.range(0), batch_size=10))
    assert empty == [("batch_end", {"batch_index": 0, "progress": 1.0, "rows": 0})]


def test_streaming_progress_recorder(spark, tmpdir):
    """Micro-batch markers from a real availableNow streaming run."""
    from rs_graphdb_spark.streaming.ops import StreamProgressRecorder

    events_dir = _events_dir(spark, tmpdir)
    rec = StreamProgressRecorder().attach(spark)
    try:
        stream = read_event_stream(spark, events_dir)
        name = f"prog_{uuid.uuid4().hex[:8]}"
        q = (
            windowed_event_counts(stream)
            .writeStream.format("memory").queryName(name)
            .outputMode("complete").trigger(availableNow=True).start()
        )
        q.awaitTermination(300)
        # listener events are delivered asynchronously
        import time

        total = spark.read.parquet(events_dir).count()
        for _ in range(60):
            if sum(m["rows"] for m in rec.markers()) >= total:
                break
            time.sleep(0.5)
        markers = rec.markers()
        assert sum(m["rows"] for m in markers) == total
        assert [m["batch_index"] for m in markers][0] == 0
    finally:
        rec.detach(spark)


def test_watermark_drops_late_data_across_restarts(spark, tmpdir):
    """Late-data semantics: the watermark persists in the checkpoint, so a
    restarted query drops an event arriving a full day behind the
    frontier committed by the previous run (within one availableNow run
    the pre-planned batches share the initial watermark — restart
    boundaries are where the guarantee bites). Batch mode has no
    watermark and keeps the late row."""
    import time

    from pyspark.sql import Row

    src = str(tmpdir / "late_in")
    ckpt = str(tmpdir / "late_ckpt")
    (tmpdir / "late_in").mkdir()
    base = 1_700_000_000  # epoch seconds
    on_time = [
        Row(event_id=i, ts=(base + i * 60) * 1_000_000, user_id=1,
            event_type="click", value=1.0, props="{}")
        for i in range(60)
    ]
    spark.createDataFrame(on_time).withColumn(
        "ts", F.timestamp_micros(F.col("ts"))
    ).coalesce(1).write.mode("append").parquet(src)

    out = str(tmpdir / "late_out")

    def run_once():
        stream = read_event_stream(spark, src)
        q = (
            windowed_event_counts(stream, window="5 minutes",
                                  watermark="10 minutes")
            .writeStream.format("parquet").option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination(300)
        return q

    q1 = run_once()  # commits watermark = base+59min − 10min to the checkpoint
    late = [Row(event_id=999, ts=(base - 86_400) * 1_000_000, user_id=1,
                event_type="click", value=1.0, props="{}")]
    spark.createDataFrame(late).withColumn(
        "ts", F.timestamp_micros(F.col("ts"))
    ).coalesce(1).write.mode("append").parquet(src)
    q2 = run_once()  # restart: persisted watermark now applies
    time.sleep(1)

    dropped = sum(
        (p["stateOperators"][0].get("numRowsDroppedByWatermark") or 0)
        for p in q2.recentProgress if p["stateOperators"]
    )
    assert dropped == 1  # the day-late row was discarded by the watermark
    streamed = {
        r["win_start"]: r["n_events"] for r in spark.read.parquet(out).collect()
    }
    late_win = (base - 86_400) // 300 * 300
    assert late_win not in streamed
    # batch mode has no watermark: the late window IS present
    batch = {
        r["win_start"]: r["n_events"]
        for r in windowed_event_counts(
            spark.read.parquet(src), streaming=False
        ).collect()
    }
    assert batch[late_win] == 1


def test_stream_dedup_removes_duplicate_deliveries(spark, tmpdir):
    from rs_graphdb_spark.streaming.ops import stream_dedup

    events_dir = _events_dir(spark, tmpdir)
    doubled = read_event_stream(spark, events_dir).unionByName(
        read_event_stream(spark, events_dir)
    )
    name = f"sd_{uuid.uuid4().hex[:8]}"
    q = (
        stream_dedup(doubled, ["event_id"], watermark="30 minutes")
        .writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(300)
    n_src = spark.read.parquet(events_dir).count()
    out = spark.table(name)
    assert out.count() == n_src
    assert out.select("event_id").distinct().count() == n_src
    # state stayed bounded: entries never exceed the distinct-key count
    peak = max(
        (p["stateOperators"][0]["numRowsTotal"]
         for p in q.recentProgress if p["stateOperators"]),
        default=0,
    )
    assert 0 < peak <= n_src
    # batch fallback (no watermark API in batch mode) agrees
    batch = stream_dedup(
        spark.read.parquet(events_dir).unionByName(
            spark.read.parquet(events_dir)
        ),
        ["event_id"],
        streaming=False,
    )
    assert batch.count() == n_src


def test_dedup_ingest_sink_drops_corpus_and_batch_dups(spark, tmpdir):
    from rs_graphdb_spark.functions.dedup import minhash_index
    from rs_graphdb_spark.streaming.ops import dedup_ingest_sink

    def doc(i, seed, extra=""):
        base = " ".join(f"w{seed}x{j}" for j in range(40))
        return (i, base + extra)

    corpus = spark.createDataFrame(
        [doc(1, 1), doc(2, 2), doc(3, 3)], "doc_id long, text string"
    )
    index_dir = str(tmpdir / "index")
    banded, sets = minhash_index(corpus, "doc_id", "text")
    banded.write.parquet(f"{index_dir}/banded")
    sets.select("doc_id", "sets").write.parquet(f"{index_dir}/sets")

    # batch: 10 = near-copy of corpus doc 1 (drop), 11 = novel (keep),
    # 12/13 = in-batch near-dups (keep 12, drop 13)
    batch = spark.createDataFrame(
        [doc(10, 1, " tail"), doc(11, 9), doc(12, 5), doc(13, 5, " x")],
        "doc_id long, text string",
    )
    src = str(tmpdir / "in")
    batch.coalesce(1).write.parquet(src)
    stream = (
        spark.readStream.schema(batch.schema).option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = dedup_ingest_sink(
        stream, "doc_id", "text",
        out_dir=str(tmpdir / "out"), checkpoint_dir=str(tmpdir / "ckpt"),
        index_dir=index_dir, threshold=0.8,
    )
    q.awaitTermination(300)

    kept = {r["doc_id"] for r in spark.read.parquet(str(tmpdir / "out")).collect()}
    assert kept == {11, 12}
    # the index grew by exactly the survivors
    idx_docs = {r["doc"] for r in
                spark.read.parquet(f"{index_dir}/banded").select("doc")
                .dropDuplicates().collect()}
    assert idx_docs == {1, 2, 3, 11, 12}

    # a SECOND stream carrying a near-copy of survivor 11 must now drop it
    batch2 = spark.createDataFrame(
        [doc(20, 9, " y"), doc(21, 17)], "doc_id long, text string"
    )
    src2 = str(tmpdir / "in2")
    batch2.coalesce(1).write.parquet(src2)
    stream2 = (
        spark.readStream.schema(batch2.schema).option("maxFilesPerTrigger", 1)
        .parquet(src2)
    )
    q2 = dedup_ingest_sink(
        stream2, "doc_id", "text",
        out_dir=str(tmpdir / "out"), checkpoint_dir=str(tmpdir / "ckpt2"),
        index_dir=index_dir, threshold=0.8,
    )
    q2.awaitTermination(300)
    kept2 = {r["doc_id"] for r in spark.read.parquet(str(tmpdir / "out")).collect()}
    assert kept2 == {11, 12, 21}


def test_append_epoch_replay_idempotent(spark, tmpdir):
    """Crash-replay of the same epoch must not duplicate rows (VERDICT r3
    item #8): _append_epoch's deterministic epoch-tagged filenames make a
    re-run of the same (run_id, epoch) replace, never append."""
    from rs_graphdb_spark.streaming.ops import _append_epoch

    df = spark.range(10).withColumnRenamed("id", "doc")
    dest = str(tmpdir / "tbl")
    _append_epoch(df, dest, 0, run_id="runA-")
    assert spark.read.parquet(dest).count() == 10
    # replay epoch 0 → replaced, not appended
    _append_epoch(df, dest, 0, run_id="runA-")
    assert spark.read.parquet(dest).count() == 10
    # next epoch appends
    _append_epoch(df, dest, 1, run_id="runA-")
    assert spark.read.parquet(dest).count() == 20
    # a DIFFERENT query (run_id) re-using epoch 0 never collides
    _append_epoch(df, dest, 0, run_id="runB-")
    assert spark.read.parquet(dest).count() == 30
    # partitioned variant: replay is idempotent per partition dir too
    pdf = df.withColumn("bp", (F.col("doc") % 4).cast("string"))
    pdest = str(tmpdir / "ptbl")
    _append_epoch(pdf, pdest, 0, partition_col="bp", sort_col="doc",
                  run_id="runA-")
    _append_epoch(pdf, pdest, 0, partition_col="bp", sort_col="doc",
                  run_id="runA-")
    got = spark.read.parquet(pdest)
    assert got.count() == 10 and "bp" in got.columns


def test_standing_index_probe_is_pruned(spark, tmpdir):
    """The standing-index probe scan must be partition-pruned to the
    batch's band-hash prefixes and carry the exact bh IN pushdown
    (VERDICT r3 item #1b): assert at the PLAN level, then check results
    equal an unpruned probe."""
    from rs_graphdb_spark.functions.dedup import (
        load_banded_pruned, minhash_index, minhash_probe,
        write_minhash_index,
    )

    def doc(i, seed, extra=""):
        base = " ".join(f"w{seed}x{j}" for j in range(40))
        return (i, base + extra)

    corpus = spark.createDataFrame(
        [doc(i, i) for i in range(1, 9)], "doc_id long, text string"
    )
    index_dir = str(tmpdir / "index")
    banded, sets = minhash_index(corpus, "doc_id", "text")
    write_minhash_index(banded, sets, index_dir)

    batch = spark.createDataFrame(
        [doc(20, 3, " tail"), doc(21, 99)], "doc_id long, text string"
    )
    new_banded, new_sets = minhash_index(batch, "doc_id", "text")
    pruned = load_banded_pruned(spark, f"{index_dir}/banded", new_banded)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    # partition pruning on bp AND row-group pushdown on bh, both at scan
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "bp" in pf[0].split("PartitionFilters", 1)[1][:200]
    assert any("PushedFilters" in ln and "bh" in ln.split("PushedFilters", 1)[1][:400]
               for ln in plan.splitlines())
    # pruned probe ≡ unpruned probe
    flat = spark.read.parquet(f"{index_dir}/banded").drop("bp")
    sets_read = spark.read.parquet(f"{index_dir}/sets")
    want = {(r["a"], r["b"]) for r in minhash_probe(
        flat, sets_read, batch, "doc_id", "text", threshold=0.8).collect()}
    got = {(r["a"], r["b"]) for r in minhash_probe(
        pruned, sets_read, batch, "doc_id", "text", threshold=0.8,
        new_banded=new_banded, new_sets=new_sets, broadcast_new=True,
    ).collect()}
    assert got == want and (3, 20) in got


def test_ingest_sink_bootstrap_creates_pruned_layout(spark, tmpdir):
    """A sink bootstrapped with NO pre-existing index must create the
    bp-partitioned standing layout and keep probing it correctly on a
    later stream."""
    from rs_graphdb_spark.streaming.ops import dedup_ingest_sink
    import os

    def doc(i, seed, extra=""):
        base = " ".join(f"w{seed}x{j}" for j in range(40))
        return (i, base + extra)

    index_dir = str(tmpdir / "index")
    b1 = spark.createDataFrame(
        [doc(1, 1), doc(2, 2), doc(3, 2, " x")], "doc_id long, text string"
    )
    src = str(tmpdir / "in"); b1.coalesce(1).write.parquet(src)
    stream = (spark.readStream.schema(b1.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = dedup_ingest_sink(
        stream, "doc_id", "text", out_dir=str(tmpdir / "out"),
        checkpoint_dir=str(tmpdir / "ckpt"), index_dir=index_dir,
        threshold=0.8,
    )
    q.awaitTermination(300)
    kept = {r["doc_id"] for r in
            spark.read.parquet(str(tmpdir / "out")).collect()}
    assert kept == {1, 2}  # 3 near-dups 2, greater id drops
    # standing layout is bp-partitioned
    assert any(e.startswith("bp=") for e in os.listdir(f"{index_dir}/banded"))
    # second stream probes the pruned layout: near-copy of 1 drops
    b2 = spark.createDataFrame([doc(10, 1, " y"), doc(11, 7)],
                               "doc_id long, text string")
    src2 = str(tmpdir / "in2"); b2.coalesce(1).write.parquet(src2)
    stream2 = (spark.readStream.schema(b2.schema)
               .option("maxFilesPerTrigger", 1).parquet(src2))
    q2 = dedup_ingest_sink(
        stream2, "doc_id", "text", out_dir=str(tmpdir / "out"),
        checkpoint_dir=str(tmpdir / "ckpt2"), index_dir=index_dir,
        threshold=0.8,
    )
    q2.awaitTermination(300)
    kept2 = {r["doc_id"] for r in
             spark.read.parquet(str(tmpdir / "out")).collect()}
    assert kept2 == {1, 2, 11}


def test_compact_minhash_index_preserves_probe(spark, tmpdir):
    """Compaction of an append-grown standing index must shrink file
    counts back to the canonical layout and leave probe results
    bit-identical."""
    import glob
    import os

    from rs_graphdb_spark.functions.dedup import (
        compact_minhash_index, load_banded_pruned, minhash_index,
        minhash_probe)
    from rs_graphdb_spark.streaming.ops import dedup_ingest_sink

    def doc(i, seed, extra=""):
        base = " ".join(f"w{seed}x{j}" for j in range(40))
        return (i, base + extra)

    index_dir = str(tmpdir / "index")
    # grow the index through the sink across 3 micro-batches
    batches = spark.createDataFrame(
        [doc(i, i) for i in range(1, 10)], "doc_id long, text string"
    )
    src = str(tmpdir / "in")
    batches.repartition(3).write.parquet(src)
    q = dedup_ingest_sink(
        (spark.readStream.schema(batches.schema)
         .option("maxFilesPerTrigger", 1).parquet(src)),
        "doc_id", "text", out_dir=str(tmpdir / "out"),
        checkpoint_dir=str(tmpdir / "ckpt"), index_dir=index_dir,
        threshold=0.8,
    )
    q.awaitTermination(300)

    probe = spark.createDataFrame([doc(50, 4, " tail"), doc(51, 77)],
                                  "doc_id long, text string")
    new_banded, new_sets = minhash_index(probe, "doc_id", "text")

    def run_probe():
        pruned = load_banded_pruned(spark, f"{index_dir}/banded", new_banded)
        return {(r["a"], r["b"]) for r in minhash_probe(
            pruned, spark.read.parquet(f"{index_dir}/sets"), probe,
            "doc_id", "text", threshold=0.8,
            new_banded=new_banded, new_sets=new_sets, broadcast_new=True,
        ).collect()}

    before = run_probe()
    files_before = len(glob.glob(f"{index_dir}/banded/*/*.parquet"))
    compact_minhash_index(spark, index_dir)
    files_after = len(glob.glob(f"{index_dir}/banded/*/*.parquet"))
    assert files_after < files_before
    assert not [e for e in os.listdir(index_dir) if e.startswith("_")]
    after = run_probe()
    assert after == before and (4, 50) in after


def test_ingest_sink_auto_compaction(spark, tmpdir):
    """compact_every_epochs: the sink compacts its own standing index on
    schedule — same survivors and probe pairs as the uncompacted sink,
    fewer index files, and a durable per-run epoch high-water mark."""
    import glob
    import json

    from rs_graphdb_spark.functions.dedup import (
        load_banded_pruned, minhash_index, minhash_probe)
    from rs_graphdb_spark.streaming.ops import dedup_ingest_sink

    def doc(i, seed, extra=""):
        base = " ".join(f"w{seed}x{j}" for j in range(40))
        return (i, base + extra)

    rows = [doc(1, 1), doc(2, 2), doc(3, 2, " x"), doc(4, 4),
            doc(5, 5), doc(6, 1, " y")]
    batches = spark.createDataFrame(rows, "doc_id long, text string")
    src = str(tmpdir / "in")
    batches.repartition(6).write.parquet(src)

    outs = {}
    for name, every in (("plain", None), ("auto", 2)):
        q = dedup_ingest_sink(
            (spark.readStream.schema(batches.schema)
             .option("maxFilesPerTrigger", 1).parquet(src)),
            "doc_id", "text", out_dir=str(tmpdir / f"out-{name}"),
            checkpoint_dir=str(tmpdir / f"ckpt-{name}"),
            index_dir=str(tmpdir / f"index-{name}"),
            threshold=0.8, compact_every_epochs=every,
        )
        q.awaitTermination(300)
        outs[name] = {
            r["doc_id"]
            for r in spark.read.parquet(str(tmpdir / f"out-{name}")).collect()
        }
    assert outs["auto"] == outs["plain"]

    files = {
        name: len(glob.glob(str(tmpdir / f"index-{name}" / "banded" / "*" / "*.parquet")))
        for name in ("plain", "auto")
    }
    assert files["auto"] < files["plain"], files

    mark = json.load(open(str(tmpdir / "index-auto" / "epochs.json")))
    vals = list(mark.values())
    # one run entry, high-water = last epoch (≥2 so compaction fired)
    assert len(vals) == 1 and vals[0] >= 2

    # compacted index probes identically to the uncompacted one
    probe = spark.createDataFrame([doc(50, 4, " tail"), doc(51, 77)],
                                  "doc_id long, text string")
    nb, ns = minhash_index(probe, "doc_id", "text")
    pairs = {}
    for name in ("plain", "auto"):
        idx = str(tmpdir / f"index-{name}")
        pruned = load_banded_pruned(spark, f"{idx}/banded", nb)
        pairs[name] = {(r["a"], r["b"]) for r in minhash_probe(
            pruned, spark.read.parquet(f"{idx}/sets"), probe,
            "doc_id", "text", threshold=0.8,
            new_banded=nb, new_sets=ns, broadcast_new=True,
        ).collect()}
    assert pairs["auto"] == pairs["plain"]
    assert any(a == 4 for a, _ in pairs["auto"])

    # restart with the SAME checkpoint (all epochs committed): nothing
    # reprocessed, marker and outputs unchanged
    q2 = dedup_ingest_sink(
        (spark.readStream.schema(batches.schema)
         .option("maxFilesPerTrigger", 1).parquet(src)),
        "doc_id", "text", out_dir=str(tmpdir / "out-auto"),
        checkpoint_dir=str(tmpdir / "ckpt-auto"),
        index_dir=str(tmpdir / "index-auto"),
        threshold=0.8, compact_every_epochs=2,
    )
    q2.awaitTermination(300)
    assert {
        r["doc_id"]
        for r in spark.read.parquet(str(tmpdir / "out-auto")).collect()
    } == outs["plain"]


def test_stream_stream_interval_join_equals_batch(spark, tmpdir):
    """A REAL two-stream watermarked interval self-join (r6 VERDICT item
    #6) must emit exactly the batch join's pairs — including when the
    source arrives as MULTIPLE micro-batches, so the per-side join state
    genuinely carries across batches (a view in batch 1 matching a click
    in batch 2 can only come from state)."""
    from rs_graphdb_spark.streaming.ops import stream_stream_interval_join

    src = spark.read.parquet(f"{SF}/events.parquet")
    # split into 3 files -> 3 micro-batches under maxFilesPerTrigger=1.
    # The random split delivers events OUT OF ORDER across batches, so
    # the watermark must exceed the fixture's full time span — a real
    # deployment's 2 h watermark would (correctly) drop late-arriving
    # left rows, which is eviction semantics, not what this test pins.
    events_dir = str(tmpdir / "events_multi")
    src.repartition(3).write.parquet(events_dir)
    stream = read_event_stream(spark, events_dir)

    name = f"ssj_{uuid.uuid4().hex[:8]}"
    q = (
        stream_stream_interval_join(stream, horizon_s=3600,
                                    watermark="3650 days")
        .writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(300)
    got = sorted(
        (r["l_id"], r["r_id"], r["user_id"], r["lag_us"])
        for r in spark.table(name).collect()
    )
    want = sorted(
        (r["l_id"], r["r_id"], r["user_id"], r["lag_us"])
        for r in stream_stream_interval_join(
            src, horizon_s=3600, streaming=False).collect()
    )
    assert got == want and len(got) > 0
