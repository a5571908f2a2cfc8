"""SparkSession factory tuned for this engine, and the engine's parquet
reader (``read_parquet``).

Local-mode defaults match the driver harness (local[$SPARK_GRAFT_CPUS]);
on a real cluster the same settings (AQE on, modest shuffle partitions
scaled by cluster size) are the right starting point.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, _parse_datatype_json_string


def local_df(spark: SparkSession, data, schema: str | StructType):
    """Small local-literal DataFrame via the Arrow fast path.

    ``spark.createDataFrame(list_of_tuples)`` pickles rows into a Python
    RDD — EVERY subsequent action on any plan containing that relation
    re-runs a Python worker task (measured 3-7 s per job on this box).
    Routing the same rows through pandas hits the Arrow conversion and
    lands JVM-side: ~0.1 s per action. Use for every literal frame that
    participates in later queries (created nodes/edges, empty seeds).
    """
    import pandas as pd
    from pyspark.sql.types import _parse_datatype_string

    st = _parse_datatype_string(schema) if isinstance(schema, str) else schema
    rows = [tuple(r) if not isinstance(r, tuple) else r for r in data]
    if not rows:
        # EMPTY seeds must be JVM-side too (r11): `createDataFrame([],
        # st)` builds a Python-RDD-backed relation — every later action
        # on ANY plan unioned over that seed re-runs Python worker
        # tasks (measured: a 3-node chain-MERGE fixture built on empty
        # seeds paid ~5 s per action, 60 s per chain MERGE; with a
        # JVM-side empty relation the same merge is <2 s). A 1-split
        # empty Range + typed null projection optimizes to an empty
        # LocalRelation-equivalent with the exact requested schema.
        from pyspark.sql import functions as F

        return spark.range(0, 0, 1, 1).select(
            *[F.lit(None).cast(f.dataType).alias(f.name) for f in st.fields]
        )
    # dtype=object keeps None as None (a typed pandas column would turn it
    # into NaN, which is NOT SQL NULL after conversion); the explicit
    # schema pins exact Spark types
    pdf = pd.DataFrame(rows, columns=st.fieldNames(), dtype=object)
    return spark.createDataFrame(pdf, schema=st)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without Spark's schema-inference job.

    Inference (``mergeSchemasInParallel``) schedules one job per read to
    parse one footer of a few KB. Here the footer is read on the driver
    with the session's Hadoop conf and converted by Spark's own code
    (``ParquetFileFormat.readSchemaFromFooter`` with a converter built
    from the session conf), so Spark row metadata, ``nanosAsLong``,
    ``inferTimestampNTZ`` and binary-as-string come out as in inference.
    A directory is read from its first data file in name order, as
    inference assumes consistent part files. Anything else — a glob,
    a missing path, partition subdirectories, summary files, no data
    file — goes to ``spark.read.parquet`` itself, errors included.
    """
    # the fixture parquet may hold TIMESTAMP(NANOS), which Spark refuses
    # to read without this; it must be set before the schema is converted
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    jvm, jspark = spark._jvm, spark._jsparkSession
    conf = jspark.sessionState().newHadoopConf()
    status = _footer_file(jvm.org.apache.hadoop.fs.Path(path), conf)
    if status is None:
        return spark.read.parquet(path)
    pq = jvm.org.apache.spark.sql.execution.datasources.parquet
    meta = pq.ParquetFooterReader.readFooter(
        jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(status, conf),
        jvm.org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS,
    )
    schema = pq.ParquetFileFormat.readSchemaFromFooter(
        jvm.org.apache.parquet.hadoop.Footer(status.getPath(), meta),
        pq.ParquetToSparkSchemaConverter(jspark.sessionState().conf()),
    )
    return spark.read.schema(_parse_datatype_json_string(schema.json())).parquet(path)


def _footer_file(p, conf):
    """The file whose footer Spark's inference would read for ``p``, or
    None where Spark must resolve ``p`` itself."""
    fs = p.getFileSystem(conf)
    if not fs.exists(p):
        return None
    status = fs.getFileStatus(p)
    if status.isFile():
        return status
    data = []
    for s in fs.listStatus(p):
        name = s.getPath().getName()
        if name in ("_metadata", "_common_metadata"):
            return None
        if name.startswith(("_", ".")) or name.endswith("._COPYING_"):
            continue
        if s.isDirectory():
            return None
        data.append((name, s))
    return min(data, key=lambda d: d[0])[1] if data else None


def get_spark(app_name: str = "rs-graphdb-spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.session.timeZone", "UTC")
        # push medium-sized IN lists down to parquet as real value filters
        # instead of a min-max range (the default threshold of 10 turns
        # the standing-index probe's `bh IN (batch hashes)` into a
        # full-keyspace range on uniform hashes — no row-group skipping).
        # CAPPED AT 100: Spark lowers the IN to a left-deep Or tree in the
        # parquet predicate, and ~2k-deep trees StackOverflow the executor
        # (measured — this is why the upstream default is so small)
        .config("spark.sql.parquet.pushdown.inFilterThreshold", "100")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # local[32] puts all 32 executor threads in the DRIVER JVM: the
        # heap must be sized like 32 cores of cluster executors (4-8 GB
        # per 4-5 cores), not like a thin coordinator. 8g GC-thrashed and
        # OOM'd 32-way collect_list/sort stages at the r5 1M-row probe
        # rungs; 24g matches the 128 GiB box while leaving room for 32
        # Python workers + OS cache.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
