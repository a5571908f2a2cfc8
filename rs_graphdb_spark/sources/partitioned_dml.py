"""Partition-scoped DML over a persisted graph (r4 VERDICT item #5;
manifest-based atomic commit is r5 VERDICT item #4).

The lineage DML in :mod:`rs_graphdb_spark.operators.dml` rewrites a whole
table's lineage; persisting that result rewrites every file. At 100 TB a
DELETE hitting 0.1% of rows must NOT rewrite every partition — this
module stores each node/edge table hash-partitioned into a fixed number
of id buckets (``pb = pmod(id, n)``, a *partition column* in the dataset
layout) and rewrites ONLY the buckets that contain victims:

- victim buckets are found with one partition-pruned/column-pruned scan
  (for edges' dst side, a dst-column scan — the dst bucket is not the
  partition key, so membership is discovered, then still only the
  affected dirs are rewritten);
- each DML op writes rewritten buckets into a NEW per-table version dir
  (``<table>/v{m}/pb=k``); untouched buckets are HARDLINKED from the
  previous version (metadata-only — their files stay byte-identical,
  same inodes, pinned by test);
- readers resolve every physical dir through ONE manifest
  (``_manifest/CURRENT`` → ``_manifest/v{N}.json``), and a DML op —
  however many tables its cascade touches — publishes with a single
  atomic ``os.replace`` of the CURRENT pointer. A reader that resolved
  CURRENT before the flip keeps a complete consistent snapshot: the
  previous version's dirs are retained through the NEXT commit (GC
  keeps {current, previous}), so there is no window where bucket A is
  new and bucket B old.

Single-writer contract (same as the ingest index): one DML writer at a
time; concurrent readers are safe at any point. A SECOND writer is now
*detected* rather than silently clobbered: every commit re-reads CURRENT
after staging and raises :class:`ConcurrentWriteError` if another commit
advanced it first (optimistic read-back CAS — the same intent as the
reference's optimistic lock, `src/transactions/optimistic_lock.rs:10-50`,
mapped onto the commit-log shape). Readers additionally get *time
travel*: ``load_graph_partitioned(..., version=N)`` pins any retained
manifest version ({current, previous} survive GC). At production scale a
transactional table format (Delta/Iceberg) replaces this manifest with
its commit log — the plan shape (scoped anti-join per victim bucket,
one metadata pointer per transaction) is identical.

Reference anchor: cascade semantics `src/storage/mem_store.rs:123-147`;
the in-place mutation this replaces is
`/root/reference/src/cypher/executor.rs:650-738`.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from rs_graphdb_spark.graph import EdgeSet, PropertyGraph, holds
from rs_graphdb_spark.operators.dml import set_props_on

#: dataset partition column (lives in directory names, never in data files)
PB = "pb"


def _bucket(col: str | Column, n: int) -> Column:
    return F.pmod(F.col(col) if isinstance(col, str) else col, F.lit(n))


# ---------------------------------------------------------------- manifest

def _manifest_dir(path: str) -> str:
    return f"{path}/_manifest"


class ConcurrentWriteError(RuntimeError):
    """A second DML writer advanced CURRENT while this op was staging.
    The losing commit's staged dirs are left for the next writer's
    crashed-attempt cleanup; nothing it staged is reader-visible."""


def read_manifest(path: str, version: int | None = None) -> tuple[int, dict]:
    """Resolve CURRENT → (version, manifest dict) — or pin an explicit
    retained ``version`` (time travel; GC keeps {current, previous}).

    The CURRENT→json resolution is two non-atomic reads; a reader racing
    two back-to-back commits can see a CURRENT whose json was GC'd a
    moment later, so a FileNotFoundError re-reads CURRENT once (the
    fresh pointer's json is guaranteed retained through the *next*
    commit)."""
    mdir = _manifest_dir(path)
    if version is not None:
        try:
            with open(f"{mdir}/v{version}.json") as fh:
                return version, json.load(fh)
        except FileNotFoundError:
            raise FileNotFoundError(
                f"manifest version {version} is not retained at {path!r} "
                "(GC keeps only the current and previous versions)"
            ) from None
    for attempt in (0, 1):
        ver = _read_current(mdir)
        try:
            with open(f"{mdir}/v{ver}.json") as fh:
                return ver, json.load(fh)
        except FileNotFoundError:
            if attempt:
                raise
    raise AssertionError("unreachable")


def _read_current(mdir: str) -> int:
    with open(f"{mdir}/CURRENT") as fh:
        return int(fh.read().strip())


def _write_manifest(path: str, ver: int, manifest: dict) -> None:
    """Write v{ver}.json then atomically flip CURRENT (tmp + os.replace
    for both, so a racing reader sees either the old pointer or the new
    one — never a partial file)."""
    mdir = _manifest_dir(path)
    os.makedirs(mdir, exist_ok=True)
    mf = f"{mdir}/v{ver}.json"
    tmp = f"{mf}.tmp"
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, mf)
    ctmp = f"{mdir}/CURRENT.tmp"
    with open(ctmp, "w") as fh:
        fh.write(str(ver))
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(ctmp, f"{mdir}/CURRENT")


def _table_version(rel: str) -> int:
    return int(rel.rsplit("/v", 1)[1])


def _commit(path: str, cur_ver: int, manifest: dict,
            updates: dict[str, str]) -> None:
    """Publish one DML op: new manifest with the updated table dirs,
    ONE atomic CURRENT flip, then GC of versions older than previous.

    Read-back CAS: after all staging is done (we're called last), re-read
    CURRENT; if another writer advanced it past the version this op read
    at its start, raise instead of flipping — flipping would publish a
    manifest derived from a stale snapshot and silently drop the racing
    writer's commit."""
    seen = _read_current(_manifest_dir(path))
    if seen != cur_ver:
        raise ConcurrentWriteError(
            f"CURRENT advanced {cur_ver} -> {seen} while this op staged; "
            "aborting commit (single-writer contract violated)"
        )
    new = dict(manifest)
    new["tables"] = {**manifest["tables"], **updates}
    _write_manifest(path, cur_ver + 1, new)
    _gc(path, cur_ver + 1)


def commit_with_rebase(
    path: str,
    updates: dict[str, str],
    mutate=None,
    max_retries: int = 5,
) -> int:
    """Bounded retry-with-rebase commit for MULTI-writer stores (r9
    VERDICT item #7). The plain :func:`_commit` CAS is correct but
    pessimistic: the loser of a race aborts with
    :class:`ConcurrentWriteError` even when the two commits touch
    DISJOINT tables (two pipelines sharing one store — the shape a
    100 TB deployment eventually runs). This helper re-reads CURRENT
    after a lost race, re-derives the manifest from the WINNER's (so
    the winner's tables survive), re-applies ``mutate`` (the caller's
    manifest-level edit — e.g. appending its stage to ``completed`` —
    called with the FRESH manifest each attempt, so it must be a pure
    function of it) and retries the CAS, bounded by ``max_retries``.
    The staged DATA directory is never rewritten — only the manifest
    entry is rebased; staged dirs must therefore be writer-unique
    (uuid-suffixed), not version-named, under multi-writer use.

    Raises :class:`ConcurrentWriteError` when the fresh manifest
    already binds one of ``updates``' keys to a DIFFERENT directory (a
    true same-table conflict — rebasing would clobber the winner's
    commit; the caller decides whether to adopt the winner's output or
    fail) and when retries exhaust. Returns the committed version."""
    last: Exception | None = None
    for _ in range(max_retries + 1):
        ver, manifest = read_manifest(path)
        for key, rel in updates.items():
            cur = manifest.get("tables", {}).get(key)
            if cur is not None and cur != rel:
                raise ConcurrentWriteError(
                    f"table {key!r} already committed by another "
                    f"writer (-> {cur}); refusing to rebase over it")
        new = mutate(dict(manifest)) if mutate is not None \
            else dict(manifest)
        try:
            _commit(path, ver, new, updates)
            return ver + 1
        except ConcurrentWriteError as e:
            last = e  # lost another race — rebase on the fresh CURRENT
    raise ConcurrentWriteError(
        f"commit lost {max_retries + 1} CAS races on {path}; giving up"
    ) from last


def _gc(path: str, cur_ver: int) -> None:
    """Keep {current, previous} manifest versions and every table dir
    either of them references; delete older table version dirs and
    manifest files. Racing readers may hold the previous snapshot —
    never the one before it (single-writer contract)."""
    mdir = _manifest_dir(path)
    keep_refs: set[str] = set()
    for v in (cur_ver, cur_ver - 1):
        mf = f"{mdir}/v{v}.json"
        if v >= 0 and os.path.exists(mf):
            with open(mf) as fh:
                keep_refs.update(json.load(fh)["tables"].values())
    for name in os.listdir(mdir):
        if name.startswith("v") and name.endswith(".json"):
            if int(name[1:-5]) < cur_ver - 1:
                os.remove(f"{mdir}/{name}")
    for rel in set(keep_refs):
        table_root = f"{path}/{rel.rsplit('/v', 1)[0]}"
        if not os.path.isdir(table_root):
            continue
        for entry in os.listdir(table_root):
            full_rel = f"{rel.rsplit('/v', 1)[0]}/{entry}"
            if entry.startswith("v") and full_rel not in keep_refs:
                shutil.rmtree(f"{table_root}/{entry}", ignore_errors=True)


def _link_tree(src: str, dst: str) -> None:
    """Hardlink every file of ``src`` under ``dst`` (metadata-only: no
    data copied, bytes trivially identical)."""
    for root, _dirs, files in os.walk(src):
        rel = os.path.relpath(root, src)
        troot = dst if rel == "." else os.path.join(dst, rel)
        os.makedirs(troot, exist_ok=True)
        for f in files:
            os.link(os.path.join(root, f), os.path.join(troot, f))


# ---------------------------------------------------------------- save/load

def save_graph_partitioned(
    graph: PropertyGraph, path: str, id_buckets: int = 16
) -> None:
    """Persist the graph with every table hash-partitioned into
    ``id_buckets`` dirs: nodes by ``pmod(id, n)``, edges by
    ``pmod(src, n)`` (the side the cascade can prune arithmetically).
    Layout: ``path/nodes/<Label>/v0/pb=k/``, ``path/edges/<REL>/v0/pb=k/``
    + the ``_manifest`` pointer tree (version 0)."""
    tables: dict[str, str] = {}
    manifest = {
        "nodes": sorted(graph.nodes),
        "edges": {},
        "id_buckets": id_buckets,
        "tables": tables,
    }
    for label, df in graph.nodes.items():
        key = f"nodes/{label}"
        (
            df.withColumn(PB, _bucket("id", id_buckets))
            .repartition(id_buckets, PB)
            .write.mode("overwrite")
            .partitionBy(PB)
            .parquet(f"{path}/{key}/v0")
        )
        tables[key] = f"{key}/v0"
    for rt, es in graph.edges.items():
        key = f"edges/{rt}"
        (
            es.df.withColumn(PB, _bucket("src", id_buckets))
            .repartition(id_buckets, PB)
            .write.mode("overwrite")
            .partitionBy(PB)
            .parquet(f"{path}/{key}/v0")
        )
        tables[key] = f"{key}/v0"
        manifest["edges"][rt] = {
            "src_label": es.src_label, "dst_label": es.dst_label
        }
    _write_manifest(path, 0, manifest)


def load_graph_partitioned(
    spark: SparkSession, path: str, version: int | None = None
) -> PropertyGraph:
    """Reopen a partitioned graph at the CURRENT manifest version — one
    pointer read pins a consistent snapshot of every table (the dirs it
    names survive until the version after next). The ``pb`` partition
    column is dropped so query surfaces see the exact saved schema.

    ``version=N`` time-travels to any retained manifest version (GC
    keeps {current, previous}), e.g. the pre-DML snapshot right after a
    DELETE/SET — the same read contract as Delta's ``versionAsOf``."""
    _ver, manifest = read_manifest(path, version=version)
    # mergeSchema: a SET that adds a new column rewrites only victim
    # buckets, so bucket schemas can legitimately differ by added
    # (NULL-elsewhere) columns
    rd = spark.read.option("mergeSchema", "true")
    g = PropertyGraph()
    for label in manifest["nodes"]:
        g.nodes[label] = rd.parquet(
            f"{path}/{manifest['tables'][f'nodes/{label}']}"
        ).drop(PB)
    for rt, info in manifest["edges"].items():
        g.edges[rt] = EdgeSet(
            df=rd.parquet(f"{path}/{manifest['tables'][f'edges/{rt}']}")
            .drop(PB),
            src_label=info["src_label"],
            dst_label=info["dst_label"],
        )
    return g


# ---------------------------------------------------------------- rewrite

def _rewrite_buckets(
    spark: SparkSession,
    path: str,
    cur_rel: str,
    buckets: list[int],
    transform,
) -> str | None:
    """Stage a new version of one table with ONLY the named ``pb=k``
    buckets rewritten: a partition-pruned scan of exactly those buckets,
    ``transform`` (DataFrame -> DataFrame, PB rides along), one
    ``partitionBy(PB)`` write into the staged next-version dir, then
    hardlinks for every untouched bucket (byte-identical, no data
    movement). Returns the staged dir's table-relative path — NOT yet
    visible to readers until the caller's single manifest flip — or
    None when no named bucket exists. A bucket whose rows all vanish has
    no staged dir (the partition is simply absent from the new version).
    """
    cur_dir = f"{path}/{cur_rel}"
    existing = {
        int(e.split("=", 1)[1])
        for e in os.listdir(cur_dir)
        if e.startswith(f"{PB}=")
    }
    buckets = [k for k in buckets if k in existing]
    if not buckets:
        return None
    table_key, _v = cur_rel.rsplit("/v", 1)
    new_rel = f"{table_key}/v{_table_version(cur_rel) + 1}"
    new_dir = f"{path}/{new_rel}"
    shutil.rmtree(new_dir, ignore_errors=True)  # crashed prior attempt
    # mergeSchema: after a column-adding SET, bucket schemas legitimately
    # differ; inferring from one file lacking the column would silently
    # drop it from the rewritten victim buckets (matches the reader)
    scoped = (
        spark.read.option("mergeSchema", "true").parquet(cur_dir)
        .filter(F.col(PB).isin(buckets))
    )
    (
        transform(scoped)
        .repartition(len(buckets), PB)
        .write.mode("overwrite").partitionBy(PB).parquet(new_dir)
    )
    for k in sorted(existing.difference(buckets)):
        _link_tree(f"{cur_dir}/{PB}={k}", f"{new_dir}/{PB}={k}")
    return new_rel


def _victim_buckets(victims: DataFrame, col: str, n: int) -> list[int]:
    """Distinct ``pmod(col, n)`` values of the victim set — at most ``n``
    rows ever reach the driver."""
    return [
        r[0]
        for r in victims.select(_bucket(col, n).alias(PB)).distinct().collect()
    ]


def delete_nodes_partitioned(
    spark: SparkSession, path: str, label: str, cond: Column
) -> int:
    """DELETE with edge cascade, touching only victim buckets.

    1. one partition-pruned scan finds the victims (three-valued WHERE:
       survivors are the anti-join complement, so NULL predicates keep
       rows — same semantics as :func:`operators.dml.delete_nodes`);
    2. the node table and every SRC-side edge table (a side declared
       ``label`` or the ``"Node"`` wildcard) stage new versions
       of exactly the victims' ``pmod(id, n)`` buckets (shared
       arithmetic — no scan);
    3. DST-side edge tables are partitioned by src, so victim dst
       buckets are discovered with one column-pruned dst scan, then only
       those dirs rewrite;
    4. ONE atomic manifest flip publishes every staged table together —
       a racing reader sees the whole cascade or none of it.

    Returns the number of deleted nodes."""
    ver, manifest = read_manifest(path)
    n = manifest["id_buckets"]
    node_rel = manifest["tables"][f"nodes/{label}"]
    victims = (
        spark.read.option("mergeSchema", "true")
        .parquet(f"{path}/{node_rel}").filter(cond).select("id")
        .localCheckpoint(eager=True)
    )
    n_victims = victims.count()
    if n_victims == 0:
        return 0
    vb = _victim_buckets(victims, "id", n)
    updates: dict[str, str] = {}
    staged = _rewrite_buckets(
        spark, path, node_rel, vb,
        lambda df: df.join(victims, "id", "left_anti"),
    )
    if staged:
        updates[f"nodes/{label}"] = staged
    for rt, info in manifest["edges"].items():
        edge_rel = manifest["tables"][f"edges/{rt}"]
        touched = edge_rel
        if holds(info["src_label"], label):
            staged = _rewrite_buckets(
                spark, path, touched, vb,
                lambda df: df.join(
                    victims.withColumnRenamed("id", "src"), "src", "left_anti"
                ),
            )
            if staged:
                updates[f"edges/{rt}"] = staged
                touched = staged
        if holds(info["dst_label"], label):
            hit = (
                spark.read.option("mergeSchema", "true")
                .parquet(f"{path}/{touched}")
                .join(victims.withColumnRenamed("id", "dst"), "dst",
                      "left_semi")
            )
            dst_vb = [r[0] for r in hit.select(PB).distinct().collect()]
            staged = _rewrite_buckets(
                spark, path, touched, dst_vb,
                lambda df: df.join(
                    victims.withColumnRenamed("id", "dst"), "dst", "left_anti"
                ),
            )
            if staged:
                updates[f"edges/{rt}"] = staged
    if updates:
        _commit(path, ver, manifest, updates)
    return n_victims


def set_props_partitioned(
    spark: SparkSession,
    path: str,
    label: str,
    cond: Column,
    updates: dict[str, Column],
) -> int:
    """SET under a match predicate, rewriting only buckets that contain a
    matching row with :func:`operators.dml.set_props_on` (merge-not-replace
    semantics and the type rule), published with one manifest flip.
    Returns matched count."""
    ver, manifest = read_manifest(path)
    n = manifest["id_buckets"]
    node_rel = manifest["tables"][f"nodes/{label}"]
    matched = (
        spark.read.option("mergeSchema", "true")
        .parquet(f"{path}/{node_rel}").filter(cond).select("id")
        .localCheckpoint(eager=True)
    )
    n_matched = matched.count()
    if n_matched == 0:
        return 0

    staged = _rewrite_buckets(
        spark, path, node_rel, _victim_buckets(matched, "id", n),
        lambda df: set_props_on(df, matched, updates),
    )
    if staged:
        _commit(path, ver, manifest, {f"nodes/{label}": staged})
    return n_matched
