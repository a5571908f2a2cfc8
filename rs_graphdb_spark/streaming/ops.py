"""Structured Streaming operators over the `events` fixture.

Reference mapping (SURVEY.md §2.9):

- `QueryStream` batch/backpressure machinery
  (`/root/reference/src/query_stream.rs:238-345,494-550`) → Structured
  Streaming's own micro-batching; progress comes from
  `StreamingQueryListener`, backpressure from `maxFilesPerTrigger` /
  `maxOffsetsPerTrigger` — none of it reimplemented by hand.
- `AsyncStorage` actor write path (`src/storage/async_store.rs:21-107`,
  async facade `src/graph/async_db.rs:12-70`) → `writeStream.foreachBatch`
  appending to the edge/node tables.
- beyond-reference (the reference has NO event-time processing): watermark
  + tumbling-window aggregation and an `applyInPandasWithState` custom
  stateful operator.

Every transformation here is expressed so the SAME function works on a
batch DataFrame and a streaming DataFrame — which is how the batch oracle
(`__spark_entry__.q69/q70`) checks the streaming logic's semantics.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from rs_graphdb_spark.session import read_parquet


def read_event_stream(spark: SparkSession, events_dir: str) -> DataFrame:
    """File-source stream over an events parquet directory.

    One file = one micro-batch by default; bound per-trigger intake with
    ``maxFilesPerTrigger`` at scale (the backpressure analog of the
    reference's bounded mpsc channel). The stream schema is read from the
    files' footer (``session.read_parquet``, no Spark job) so the fixture's
    ts representation (TIMESTAMP(NANOS) read as long under nanosAsLong, or
    TIMESTAMP(MICROS) read as ntz) never drifts from what the files hold."""
    schema = read_parquet(spark, events_dir).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_dir)
    )


#: naive epoch literal for timezone-FREE ntz→epoch conversion. A
#: ``cast("timestamp")`` + unix_micros would re-interpret the wall-clock in
#: the SESSION timezone — the driver's vanilla SparkSession makes no UTC
#: promise, so that form is off by the tz offset (verified against DuckDB
#: ``epoch_us`` under America/New_York).
_EPOCH_NTZ = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"


def event_time_us(df: DataFrame, ts_col: str = "ts"):
    """Epoch-microsecond LONG from the events ts column, robust to every
    fixture representation AND to the session timezone: nanos-as-long
    (``ts div 1000``), microsecond TIMESTAMP_NTZ (naive ``timestampdiff``
    — no session-tz reinterpretation), or tz-aware TIMESTAMP
    (``unix_micros``)."""
    dt = dict(df.dtypes).get(ts_col)
    if dt == "bigint":
        return F.expr(f"{ts_col} div 1000")
    if dt == "timestamp_ntz":
        return F.expr(f"timestampdiff(MICROSECOND, {_EPOCH_NTZ}, {ts_col})")
    return F.unix_micros(F.col(ts_col))


def _win_start_epoch_s(dtype: str):
    """Window-struct start → epoch seconds LONG (event_time is always an
    epoch-correct LTZ timestamp — see ``with_event_time`` — so unix_*
    conversions here are timezone-free by construction)."""
    return F.unix_timestamp(F.col("w.start")).cast("long")


def _win_start_epoch_us(dtype: str):
    return F.unix_micros(F.col("w.start"))


def with_event_time(df: DataFrame) -> DataFrame:
    """ts in any representation → epoch-correct LTZ event-time column.

    Watermarks require TIMESTAMP (not NTZ), so the column is built from
    epoch micros via ``timestamp_micros`` — a pure epoch constructor that
    never consults the session timezone (an ntz→timestamp CAST would)."""
    return df.withColumn("event_time", F.timestamp_micros(event_time_us(df)))


def windowed_event_counts(
    df: DataFrame,
    window: str = "5 minutes",
    watermark: str = "10 minutes",
    streaming: bool = True,
) -> DataFrame:
    """Tumbling-window counts/sums per event type with late-data handling.

    Works identically on batch and streaming inputs (watermark is a no-op
    in batch mode) — the batch run is the oracle for the streaming run."""
    df = with_event_time(df)
    et_type = dict(df.dtypes)["event_time"]
    if streaming:
        df = df.withWatermark("event_time", watermark)
    return (
        df.groupBy(
            F.window("event_time", window).alias("w"),
            F.col("event_type"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            _win_start_epoch_s(et_type).alias("win_start"),
            "event_type", "n_events", "sum_value",
        )
    )


def hopping_event_counts(
    df: DataFrame,
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
    streaming: bool = True,
) -> DataFrame:
    """Hopping (sliding) window counts/sums per event type — each event
    lands in window/slide overlapping windows (`F.window` with a slide;
    the tumbling op above is the slide == window special case). Window
    starts are emitted as exact epoch-microsecond longs (slide-aligned,
    so no float exposure in the output). Batch == streaming semantics."""
    df = with_event_time(df)
    et_type = dict(df.dtypes)["event_time"]
    if streaming:
        df = df.withWatermark("event_time", watermark)
    return (
        df.groupBy(
            F.window("event_time", window, slide).alias("w"),
            F.col("event_type"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            _win_start_epoch_us(et_type).alias("win_start_us"),
            "event_type", "n_events", "sum_value",
        )
    )


def stream_stream_interval_join(
    df: DataFrame,
    left_type: str = "view",
    right_type: str = "click",
    horizon_s: int = 600,
    watermark: str = "2 hours",
    streaming: bool = True,
) -> DataFrame:
    """Watermarked STREAM-STREAM interval join — the one Structured
    Streaming surface class the suite didn't exercise before r7: every
    (left_type, right_type) event pair of the same user with the right
    event inside ``[left_ts, left_ts + horizon_s]``. Both sides are
    filters over the same source stream (a genuine two-stream self-join:
    Spark keeps per-side join STATE and uses the watermark + time-range
    condition to evict it — state per key is bounded by the horizon,
    which is what makes this run forever on an unbounded stream).

    Emits ``(l_id, r_id, user_id, lag_us)`` — epoch-long lag, no raw
    LTZ timestamps in the output (the cross-engine ts contract). Works
    identically in batch mode (watermarks no-op), so the batch run /
    DuckDB twin is the oracle for the streaming run."""
    base = with_event_time(df)
    left = base.filter(F.col("event_type") == left_type).select(
        F.col("event_id").alias("l_id"),
        F.col("user_id").alias("l_user"),
        F.col("event_time").alias("l_time"),
        event_time_us(base).alias("l_us"),
    )
    right = base.filter(F.col("event_type") == right_type).select(
        F.col("event_id").alias("r_id"),
        F.col("user_id").alias("r_user"),
        F.col("event_time").alias("r_time"),
        event_time_us(base).alias("r_us"),
    )
    if streaming:
        left = left.withWatermark("l_time", watermark)
        right = right.withWatermark("r_time", watermark)
    return (
        left.join(
            right,
            (F.col("l_user") == F.col("r_user"))
            & (F.col("r_time") >= F.col("l_time"))
            & (F.col("r_time")
               <= F.col("l_time") + F.expr(f"INTERVAL {horizon_s} SECONDS")),
            "inner",
        )
        .select(
            "l_id", "r_id", F.col("l_user").alias("user_id"),
            (F.col("r_us") - F.col("l_us")).alias("lag_us"),
        )
    )


def session_window_stats(
    df: DataFrame,
    gap: str = "6 hours",
    watermark: str = "12 hours",
    streaming: bool = True,
) -> DataFrame:
    """Per-user session-window aggregation (``F.session_window``): events
    of a user closer than ``gap`` merge into one session. The streaming
    twin of the batch gaps-and-islands operator
    (`operators/temporal.sessionize`) — same sessions, but computed
    incrementally with state store merging instead of a window sort.

    Session bounds are reported as exact microsecond longs from the raw
    ts (min/max over the group), not from the float-derived event_time,
    so batch and streaming runs agree bit-for-bit with a SQL oracle.
    Works identically on batch and streaming inputs."""
    df = with_event_time(df).withColumn("t_us", event_time_us(df))
    if streaming:
        df = df.withWatermark("event_time", watermark)
    return (
        df.groupBy(
            F.session_window("event_time", gap).alias("sw"),
            F.col("user_id"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.min("t_us").alias("start_us"),
            F.max("t_us").alias("end_us"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select("user_id", "n_events", "start_us", "end_us", "sum_value")
    )


_STATE_SCHEMA = T.StructType([
    T.StructField("total", T.DoubleType()),
    T.StructField("n", T.LongType()),
])

_RUNNING_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("n_events", T.LongType()),
    T.StructField("total_value", T.DoubleType()),
])


def stateful_running_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator: per-user running totals via
    ``applyInPandasWithState`` — the Spark-native form of the reference's
    stateful stream consumers (`src/query_stream.rs:553-600`). Emits the
    updated running total for each user seen in the micro-batch."""

    def update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        total, n = state.get if state.exists else (0.0, 0)
        for pdf in pdfs:
            total += float(pdf["value"].fillna(0.0).sum())
            n += int(len(pdf))
        state.update((total, n))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 4)]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=_RUNNING_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


class StreamProgressRecorder:
    """Micro-batch progress markers for Structured Streaming jobs — the
    incremental twin of ``sources.export.stream_results``' batch_end
    protocol (reference `StreamItem::batch_end`,
    `/root/reference/src/query_stream.rs:86-95`). Wraps a
    ``StreamingQueryListener``; ``markers()`` returns
    ``[{"batch_index", "rows"}, ...]`` in completion order.

    Total-row progress fractions are undefined for unbounded streams (the
    reference can report 0..1 only because it streams a FINITE query
    result); per-batch indices + row counts are the honest streaming
    equivalent, and callers with a bounded availableNow run can divide by
    their own known total."""

    def __init__(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        recorder = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event) -> None:
                pass

            def onQueryProgress(self, event) -> None:
                p = event.progress
                recorder._batches.append(
                    {"batch_index": p.batchId, "rows": p.numInputRows,
                     "query_id": str(p.id)}
                )

            def onQueryIdle(self, event) -> None:
                pass

            def onQueryTerminated(self, event) -> None:
                pass

        self._batches: list[dict] = []
        self.listener = _L()

    def attach(self, spark: SparkSession) -> "StreamProgressRecorder":
        spark.streams.addListener(self.listener)
        return self

    def detach(self, spark: SparkSession) -> None:
        spark.streams.removeListener(self.listener)

    def markers(self, query_id: str | None = None) -> list[dict]:
        """Markers in completion order; pass the StreamingQuery's ``id`` to
        scope to one query (listener callbacks are session-global AND
        asynchronous — callers should poll until their expected row total
        arrives, see ``wait_for_rows``)."""
        out = list(self._batches)
        if query_id is not None:
            out = [m for m in out if m.get("query_id") == str(query_id)]
        return out

    def wait_for_rows(self, query_id: str, expected_rows: int,
                      timeout_s: float = 60.0) -> list[dict]:
        """Block until the query's markers account for ``expected_rows``
        input rows (progress events arrive on a listener bus AFTER
        ``awaitTermination`` returns), then return them."""
        import time

        deadline = time.time() + timeout_s
        while time.time() < deadline:
            got = self.markers(query_id)
            if sum(m["rows"] for m in got) >= expected_rows:
                return got
            time.sleep(0.1)
        return self.markers(query_id)


def append_edge_sink(
    stream_df: DataFrame, out_dir: str, checkpoint_dir: str
):
    """The AsyncStorage replacement: micro-batch append into an edge/node
    parquet table via foreachBatch (exactly-once per epoch via the sink's
    transactional file commit + checkpointed offsets)."""

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode("append").parquet(out_dir)

    return (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_dedup(
    df: DataFrame,
    keys: list[str],
    watermark: str = "30 minutes",
    streaming: bool = True,
) -> DataFrame:
    """Streaming exact-deduplication: drop events whose ``keys`` were
    already seen within the watermark horizon — the at-least-once →
    exactly-once repair stage in front of any streaming ingest (the
    continuous twin of :func:`...functions.dedup.exact_dedup_groups`).

    Uses ``dropDuplicatesWithinWatermark``: state holds one entry per
    distinct key seen in the last ``watermark`` of event time and is
    evicted as the watermark advances, so state size is bounded by key
    arrival rate × horizon, never by stream length — the property that
    keeps this runnable forever at 100 TB/day. (Plain ``dropDuplicates``
    on a stream grows state without bound; batch mode falls back to it,
    making the batch run the oracle for the streaming run.)"""
    df = with_event_time(df)
    if not streaming:
        return df.dropDuplicates(keys)
    return df.withWatermark("event_time", watermark).dropDuplicatesWithinWatermark(
        keys
    )


def _append_epoch(
    df: DataFrame,
    dest_dir: str,
    epoch_id: int,
    partition_col: str | None = None,
    sort_col: str | None = None,
    run_id: str = "",
) -> None:
    """Idempotently append one micro-batch epoch's rows to a parquet
    directory: write to a ``_staging`` subdir (underscore-prefixed —
    invisible to Spark reads), then move the files into place under
    DETERMINISTIC epoch-tagged names. A crash-replay of the same epoch
    first removes any files an interrupted attempt already moved, so the
    sink's three appends are each exactly-once under foreachBatch's
    at-least-once replay. Local/HDFS rename is atomic; on S3 a
    transactional table format replaces this (same plan, ACID commit).

    ``run_id`` scopes the tag to one streaming query (epoch ids restart
    at 0 per checkpoint location) — the sink derives it from the
    checkpoint dir so a crash-RESTART of the same query replays
    idempotently while a different query appending to the same directory
    never collides."""
    import glob
    import os
    import shutil

    tag = f"epoch-{run_id}{epoch_id:012d}"
    os.makedirs(dest_dir, exist_ok=True)
    # replay repair: drop whatever a previous attempt of this epoch moved
    for old in glob.glob(
        os.path.join(dest_dir, f"{tag}-*.parquet")
    ) + glob.glob(os.path.join(dest_dir, "*", f"{tag}-*.parquet")):
        os.remove(old)
    staging = os.path.join(dest_dir, f"_staging-{tag}")
    if os.path.exists(staging):
        shutil.rmtree(staging)
    w = df
    if partition_col is not None:
        w = w.repartition(16, partition_col)
    if sort_col is not None:
        w = w.sortWithinPartitions(sort_col)
    writer = w.write.mode("overwrite")
    if partition_col is not None:
        writer = writer.partitionBy(partition_col)
    writer.parquet(staging)
    for i, src in enumerate(
        sorted(
            glob.glob(os.path.join(staging, "*.parquet"))
            + glob.glob(os.path.join(staging, "*", "*.parquet"))
        )
    ):
        rel_dir = os.path.relpath(os.path.dirname(src), staging)
        dest_sub = (
            dest_dir if rel_dir == "." else os.path.join(dest_dir, rel_dir)
        )
        os.makedirs(dest_sub, exist_ok=True)
        os.replace(src, os.path.join(dest_sub, f"{tag}-{i:05d}.parquet"))
    shutil.rmtree(staging)


def dedup_ingest_sink(
    stream_df: DataFrame,
    id_col: str,
    text_col: str,
    out_dir: str,
    checkpoint_dir: str,
    index_dir: str,
    threshold: float = 0.8,
    broadcast_max_batch_docs: int = 8_000,
    compact_every_epochs: int | None = None,
):
    """Continuous near-duplicate ingest — the end-to-end 100 TB crawl
    shape: every micro-batch is probed against the STANDING MinHash/LSH
    index (``index_dir/banded`` + ``index_dir/sets``), near-dups of the
    corpus or of an earlier-id batch doc are dropped, survivors are
    appended to ``out_dir`` AND their band/set frames extend the index.

    O(batch) mechanics (the AsyncStorage ingest actor this replaces is
    `/root/reference/src/storage/async_store.rs:51-107`):

    - the batch is shingled/signed EXACTLY ONCE (``minhash_index``); the
      same frames feed the probe and, semi-joined to survivors, the
      index append — no re-signing anywhere.
    - the batch side of the probe join is broadcast, so the standing
      index is never shuffled — gated on the batch staying under
      ``broadcast_max_batch_docs`` rows (default 8k docs ≈ 10 MB of
      banded frame at 32 bands/doc). ``F.broadcast`` is a FORCED hint
      that ignores ``autoBroadcastJoinThreshold``, so an ungated
      bootstrap epoch that feeds the whole initial corpus as batch 1
      would materialize a corpus-sized banded frame on the driver;
      oversized batches fall back to a shuffle join instead.
    - when the index uses the :func:`write_minhash_index` ``bp=``
      partition layout (the sink's own bootstrap creates it), the index
      scan is partition-pruned to the batch's band-hash prefixes and
      row-group-pruned by an exact ``bh IN`` pushdown; the exact-verify
      ``sets`` scan is pruned to colliding doc ids the same way. A flat
      pre-existing index keeps working (unpruned scan, same results).
    - each epoch's three appends go through :func:`_append_epoch` —
      staged, deterministically named, crash-replay idempotent.
    - ``compact_every_epochs``: every N epochs the sink runs
      :func:`compact_minhash_index` in-line (it IS the single writer),
      restoring one sorted file per ``bp=`` dir so probe-side file I/O
      stays flat as the stream ages. Compaction swallows the epoch tags
      the replay repair keys on, so the sink records a per-run
      high-water mark (``index_dir/epochs.json``, staged+renamed) after
      each epoch's appends land; a crash-replay of an epoch at or below
      the mark short-circuits — its writes are all durable (the mark is
      written AFTER the appends, and out_dir tags survive compaction
      untouched) — instead of re-appending rows compaction absorbed."""
    import json
    import os

    from rs_graphdb_spark.functions.dedup import (
        compact_minhash_index,
        load_banded_pruned,
        minhash_index,
        minhash_probe,
        release_lazy_pins,
    )

    import hashlib

    banded_dir = os.path.join(index_dir, "banded")
    sets_dir = os.path.join(index_dir, "sets")
    marker_path = os.path.join(index_dir, "epochs.json")
    run_id = hashlib.md5(
        os.path.abspath(checkpoint_dir).encode()
    ).hexdigest()[:8] + "-"

    def _read_marker() -> dict:
        try:
            with open(marker_path) as fh:
                return json.load(fh)
        except (OSError, ValueError):
            return {}

    def _write_marker(epoch_id: int) -> None:
        mark = _read_marker()
        mark[run_id] = max(int(epoch_id), int(mark.get(run_id, -1)))
        tmp = marker_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(mark, fh)
        os.replace(tmp, marker_path)

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        if (
            compact_every_epochs
            and int(_read_marker().get(run_id, -1)) >= epoch_id
        ):
            # crash-replay of a fully-appended epoch (only the stream
            # checkpoint commit was lost): every write is already
            # durable, and the epoch's index rows may since have been
            # absorbed by compaction — re-appending would duplicate them.
            # Only armed when compaction is on; otherwise the epoch-tag
            # repair in _append_epoch alone is exact (r4 semantics).
            # NB: with compaction on, deleting a checkpoint dir and
            # reusing its PATH against the same index needs its run
            # entry cleared from epochs.json (epoch ids restart at 0).
            return
        # one job counts the batch AND materializes its cache; the count
        # gates both the forced-broadcast hint (see docstring) and the
        # lazy micro-batch path (small batches skip every eager
        # checkpoint job — the per-batch floor is per-JOB overhead, not
        # data volume; r4 verdict #3)
        batch_df = batch_df.persist()
        small_batch = batch_df.count() <= broadcast_max_batch_docs
        if not small_batch:
            cached = batch_df
            batch_df = batch_df.localCheckpoint(eager=True)
            cached.unpersist()
        eager = not small_batch
        have_index = os.path.exists(banded_dir)
        partitioned_layout = not have_index or any(
            e.startswith("bp=") for e in os.listdir(banded_dir)
        )
        # sign the batch ONCE; probe and survivor-append reuse the frames
        new_banded, new_sets = minhash_index(
            batch_df, id_col, text_col, eager=eager
        )
        if have_index:
            banded = load_banded_pruned(spark, banded_dir, new_banded)
            sets = spark.read.parquet(sets_dir)
        else:
            # bootstrap: probe against empty index frames — reduces to
            # the in-batch near-dup join on the already-built frames
            banded = new_banded.limit(0)
            sets = new_sets.select("doc_id", "sets").limit(0)
        pairs = minhash_probe(
            banded, sets, batch_df, id_col, text_col, threshold=threshold,
            new_banded=new_banded, new_sets=new_sets,
            broadcast_new=small_batch, eager=eager,
        )
        # drop a batch doc when it duplicates ANY corpus doc (the corpus
        # copy is already persisted — regardless of id order), or a
        # smaller-id in-batch doc (pairs carry a < b, so for an in-batch
        # pair the greater side b drops)
        bids = batch_df.select(F.col(id_col).alias("_bid")).dropDuplicates()
        a_in = pairs.join(
            bids.withColumnRenamed("_bid", "a"), "a", "left_semi"
        )
        b_in = pairs.join(
            bids.withColumnRenamed("_bid", "b"), "b", "left_semi"
        )
        both_in = a_in.join(
            bids.withColumnRenamed("_bid", "b"), "b", "left_semi"
        )
        drop = (
            # batch side of a batch↔corpus pair, whichever side it is
            a_in.join(bids.withColumnRenamed("_bid", "b"), "b", "left_anti")
            .select(F.col("a").alias(id_col))
            .unionByName(
                b_in.join(bids.withColumnRenamed("_bid", "a"), "a", "left_anti")
                .select(F.col("b").alias(id_col))
            )
            # greater side of an in-batch pair
            .unionByName(both_in.select(F.col("b").alias(id_col)))
            .dropDuplicates()
        )
        survivors = batch_df.join(drop, id_col, "left_anti")
        survivors = (
            survivors.localCheckpoint(eager=True) if eager
            else survivors.persist()
        )
        _append_epoch(survivors, out_dir, epoch_id, run_id=run_id)
        # survivors' index rows come from the ALREADY-BUILT batch frames
        # (a semi-join, not a third signing pass)
        surv_ids = survivors.select(F.col(id_col).alias("doc")).dropDuplicates()
        surv_banded = new_banded.join(surv_ids, "doc", "left_semi")
        surv_sets = new_sets.select("doc_id", "sets").join(
            surv_ids.withColumnRenamed("doc", "doc_id"), "doc_id", "left_semi"
        )
        if partitioned_layout:
            _append_epoch(
                surv_banded.withColumn("bp", F.substring("bh", 1, 1)),
                banded_dir, epoch_id, partition_col="bp", sort_col="bh",
                run_id=run_id,
            )
        else:
            _append_epoch(surv_banded, banded_dir, epoch_id, sort_col="bh",
                          run_id=run_id)
        _append_epoch(surv_sets, sets_dir, epoch_id, sort_col="doc_id",
                      run_id=run_id)
        # writes are durable — retire every cache this batch created
        survivors.unpersist()
        batch_df.unpersist()
        release_lazy_pins()
        if compact_every_epochs:
            _write_marker(epoch_id)
            if ((epoch_id + 1) % compact_every_epochs == 0
                    and os.path.exists(banded_dir)):
                compact_minhash_index(spark, index_dir)

    return (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
