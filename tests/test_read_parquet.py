"""The engine's parquet reader: Spark's schema without Spark's inference job."""

import shutil
import uuid
from contextlib import contextmanager
from decimal import Decimal
from pathlib import Path

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from rs_graphdb_spark.graph import EdgeSet, PropertyGraph
from rs_graphdb_spark.loaders import TABLES, load_tpch_graph
from rs_graphdb_spark.session import local_df, read_parquet
from rs_graphdb_spark.sources.export import load_graph, save_graph
from rs_graphdb_spark.streaming.ops import read_event_stream

SF = "/root/testdata/sf0.001"
TMP = Path(__file__).resolve().parents[1] / ".tmp"


@contextmanager
def _jobs(spark):
    """Collects the ids of the Spark jobs launched inside the block."""
    sc = spark.sparkContext
    group = f"read-parquet-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    ids = []
    try:
        yield ids
    finally:
        sc.setJobGroup(None, None)
        # the tracker is fed by the listener bus; drain it before asking
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture
def tmp_dir():
    d = TMP / f"rp_{uuid.uuid4().hex}"
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _assert_same_read(spark, path):
    ours, spark_own = read_parquet(spark, path), spark.read.parquet(path)
    assert ours.schema == spark_own.schema
    assert ours.collect() == spark_own.collect()


def test_load_tpch_graph_launches_no_spark_job(spark):
    with _jobs(spark) as ids:
        g = load_tpch_graph(spark, SF)
    assert ids == []
    assert g.nodes["Region"].count() == 5


@pytest.mark.parametrize("table", TABLES)
def test_fixture_tables_read_as_spark_reads_them(spark, table):
    _assert_same_read(spark, f"{SF}/{table}.parquet")


def test_events_keep_their_timestamp_representation(spark):
    # TIMESTAMP(MICROS, not UTC-adjusted) in the fixture: naive, as in inference
    ts = read_parquet(spark, f"{SF}/events.parquet").schema["ts"].dataType
    assert ts.typeName() == "timestamp_ntz"


def _typed_graph(spark):
    """Array, decimal, null-bearing and metadata-carrying columns."""
    people = local_df(
        spark,
        [(1, "a", [1, 2], Decimal("1.50")), (2, None, None, None),
         (3, "c", [], Decimal("-7.25"))],
        "id long, name string, tags array<int>, score decimal(18,2)",
    ).withColumn("note", F.col("name").alias("note", metadata={"origin": "name"}))
    knows = local_df(
        spark,
        [(10, 1, 2, 0.5), (11, 2, 3, None)],
        "edge_id long, src long, dst long, w double",
    )
    return PropertyGraph(
        nodes={"Person": people.repartition(3)},
        edges={"KNOWS": EdgeSet(df=knows, src_label="Person", dst_label="Person")},
    )


def test_saved_graph_reads_as_spark_reads_it(spark, tmp_dir):
    save_graph(_typed_graph(spark), str(tmp_dir))
    for table in ("nodes/Person", "edges/KNOWS"):
        _assert_same_read(spark, f"{tmp_dir}/{table}")
    note = read_parquet(spark, f"{tmp_dir}/nodes/Person").schema["note"]
    assert note.metadata == {"origin": "name"}


def test_load_graph_launches_no_parquet_schema_job(spark, tmp_dir):
    save_graph(_typed_graph(spark), str(tmp_dir))
    with _jobs(spark) as meta_ids:
        spark.read.json(f"{tmp_dir}/_meta").first()
    with _jobs(spark) as ids:
        g = load_graph(spark, str(tmp_dir))
    # only the `_meta` read is left: its JSON inference and first()
    assert len(ids) == len(meta_ids)
    assert g.nodes["Person"].count() == 3
    assert g.edges["KNOWS"].df.schema == spark.read.parquet(f"{tmp_dir}/edges/KNOWS").schema


def test_partitioned_dataset_reads_as_spark_reads_it(spark, tmp_dir):
    spark.range(6).withColumn("b", F.col("id") % 2).write.partitionBy("b").parquet(
        str(tmp_dir))
    ours = read_parquet(spark, str(tmp_dir))
    assert ours.schema == spark.read.parquet(str(tmp_dir)).schema
    assert sorted(ours.collect()) == sorted(spark.read.parquet(str(tmp_dir)).collect())


def _condition(read):
    with pytest.raises(AnalysisException) as err:
        read()
    return err.value.getCondition()


@pytest.mark.parametrize("files", [(), ("_SUCCESS", ".part-0.crc")])
def test_path_without_data_file_raises_sparks_error(spark, tmp_dir, files):
    tmp_dir.mkdir(parents=True)
    for name in files:
        (tmp_dir / name).write_bytes(b"")
    cond = _condition(lambda: spark.read.parquet(str(tmp_dir)))
    assert cond == "UNABLE_TO_INFER_SCHEMA"
    assert _condition(lambda: read_parquet(spark, str(tmp_dir))) == cond


def test_missing_path_raises_sparks_error(spark, tmp_dir):
    missing = str(tmp_dir / "nope")
    cond = _condition(lambda: spark.read.parquet(missing))
    assert _condition(lambda: read_parquet(spark, missing)) == cond


def test_event_stream_schema_needs_no_job(spark, tmp_dir):
    tmp_dir.mkdir(parents=True)
    shutil.copy(f"{SF}/events.parquet", tmp_dir / "events.parquet")
    with _jobs(spark) as ids:
        stream = read_event_stream(spark, str(tmp_dir))
    assert ids == []
    assert stream.isStreaming
    assert stream.schema == spark.read.parquet(str(tmp_dir)).schema
