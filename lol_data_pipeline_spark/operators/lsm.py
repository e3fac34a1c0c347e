"""Log-structured (LSM) maintenance layer for the served-index
family — batch-bounded upsert/delete writes for artifact tables.

The r13 design flag: six index families' upsert/delete paths did
``keep = existing ⟕anti batch; merged = keep ∪ batch; write(merged)``
— a constant partition COUNT but index-sized BYTES per maintenance
batch. At 100 TB a daily batch would rewrite a multi-TB artifact
daily. The two batch-bounded exemplars already in-repo (sketch: only
touched day partitions, operators/sketch_index.py:158; vector:
donor∪receiver cells only, operators/vector_index.py) are
partition-local because their merge units ARE partitions; the other
families' batches fan out across every partition (a doc has a row in
every band / its terms hash into every bucket), so partition-local
merging cannot bound them. This module bounds them the way every
production table format does (Delta/Iceberg/Hudi MOR, LevelDB):

- BASE: the build's hive-partitioned table, written once — epoch 0.
- DELTA: each upsert batch APPENDS its rows under
  ``<table>__delta/epoch=N/<part>=.../`` — write cost ∝ batch. The
  family partition column rides along, so a probe's partition
  predicate prunes delta directories exactly like base directories.
- TOMBSTONES: each upsert/delete APPENDS ``(id, epoch=N)`` rows
  under ``<table>__tomb/`` — an id's tombstone at epoch N supersedes
  every row of that id from epochs < N (upsert = replace: the
  batch's own rows carry epoch N and survive their own tombstone).
  Write cost ∝ batch ids. An upsert's tombstone epoch is its commit
  point: a delta epoch without one is invisible.
- VIEW: base∪delta minus superseded — one broadcast hash LEFT ANTI
  join on id with the extra ``tomb.epoch > row.epoch`` condition.
  The tombstone side is bounded by maintenance volume since the last
  compact (quota-bounded below), never by the corpus. With no
  deltas/tombstones on disk the view IS the bare base scan — the
  read-only serve path pays nothing.
- COMPACT: when accumulated epochs reach the quota, fold the view
  back into a fresh base (staged write + io.swap_dir) and clear
  delta+tomb. The table is crash-consistent on the next access from
  the single driver: io.recover_dir rolls an interrupted swap
  forward, and a crash before the logs are cleared is harmless
  (folded rows carry epoch 0, so every logged tombstone still
  supersedes them and every logged delta row survives exactly as
  before). Readers in another process during a swap are not
  supported. The full-artifact rewrite every batch used to pay now
  amortizes over ``quota`` batches, and the tombstone broadcast
  stays bounded.

Every function here works from the table's spec
(operators/artifact.Table: DDL, id, partition and sort columns), so
every read declares its schema. Deletion of an id that never
existed, re-upserting the same batch, and upsert-after-full-delete
are all no-ops/safe by construction — the view algebra does not care.

tests/test_lsm_maintenance.py pins: delta bytes scale with the
batch, not the corpus (the r13 verdict's done-criterion), view
equality across compact, idempotence, replace precedence, and
upsert-after-full-delete; tests/test_lsm_faults.py pins crash
consistency at every write step.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lol_data_pipeline_spark.io import recover_dir, swap_dir, write_overwrite
from lol_data_pipeline_spark.operators.artifact import Artifact, Table

# epochs accumulated before a fold-back; env override is for the
# scale probe (which wants to measure many un-compacted upserts).
DEFAULT_QUOTA = int(os.environ.get("SPARK_GRAFT_LSM_QUOTA", "8"))

_EPOCH = "_lsm_epoch"


def delta_path(table_dir: str) -> str:
    return table_dir.rstrip("/") + "__delta"


def tomb_path(table_dir: str) -> str:
    return table_dir.rstrip("/") + "__tomb"


def _has_parquet(d: str) -> bool:
    for dirpath, _dirs, files in os.walk(d):
        for f in files:
            if f.endswith(".parquet"):
                return True
    return False


def dir_bytes(d: str) -> int:
    """Total parquet bytes under a directory (local-FS metadata walk;
    a cluster deployment reads the same from the table manifest)."""
    total = 0
    for dirpath, _dirs, files in os.walk(d):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(dirpath, f))
    return total


def _epochs(log_dir: str) -> set[int]:
    found: set[int] = set()
    if os.path.isdir(log_dir):
        for name in os.listdir(log_dir):
            if name.startswith("epoch="):
                try:
                    found.add(int(name.split("=", 1)[1]))
                except ValueError:
                    pass
    return found


def lsm_epochs(table_dir: str) -> list[int]:
    """Epochs present in the delta/tombstone logs (directory listing
    — bounded by the quota, never data-sized)."""
    return sorted(_epochs(delta_path(table_dir)) | _epochs(tomb_path(table_dir)))


def _next_epoch(table_dir: str) -> int:
    eps = lsm_epochs(table_dir)
    return (eps[-1] + 1) if eps else 1


def lsm_reset(table_dir: str) -> None:
    """Drop the delta/tombstone logs."""
    shutil.rmtree(delta_path(table_dir), ignore_errors=True)
    shutil.rmtree(tomb_path(table_dir), ignore_errors=True)


def lsm_rebuild(rows: DataFrame, table_dir: str, table: Table) -> None:
    """Write a fresh base generation (truncate-and-load) and drop the
    previous generation's logs, so they cannot leak into its view."""
    write_overwrite(rows, table_dir, partition_by=list(table.partition_by))
    lsm_reset(table_dir)


def lsm_view(spark: SparkSession, table_dir: str, table: Table) -> DataFrame:
    """The logical current table: base∪delta minus superseded rows,
    read with the table's declared schema (no footer-inference job).

    Empty with that schema when no generation of the table has any
    data file. With empty logs this returns the PLAIN base scan: the
    serve path's plan (and its pushed partition/row-group predicates)
    is byte-identical to the pre-LSM design, so read-only probes pay
    nothing for the layer. An interrupted compaction swap is rolled
    forward first (a directory listing)."""
    recover_dir(table_dir)
    schema = T.StructType.fromDDL(table.ddl)
    srcs: list[DataFrame] = []
    if _has_parquet(table_dir):
        srcs.append(
            spark.read.schema(schema)
            .parquet(table_dir)
            .withColumn(_EPOCH, F.lit(0).cast("long"))
        )
    dpath, tpath = delta_path(table_dir), tomb_path(table_dir)
    if _has_parquet(dpath):
        d = spark.read.schema(
            T.StructType(schema.fields + [T.StructField("epoch", T.IntegerType())])
        ).parquet(dpath)
        committed = _epochs(tpath)
        if not _epochs(dpath) <= committed:
            # an upsert died between its delta and its tombstones
            d = d.filter(F.col("epoch").isin(sorted(committed)))
        srcs.append(
            d.withColumn(_EPOCH, F.col("epoch").cast("long")).drop("epoch")
        )
    if not srcs:
        return spark.createDataFrame([], schema)
    rows = srcs[0]
    for s in srcs[1:]:
        rows = rows.unionByName(s)
    if _has_parquet(tpath):
        # max tombstone epoch per id — bounded by maintenance volume
        # since the last compact (the quota), broadcastable always.
        tomb = (
            spark.read.schema(
                T.StructType(
                    [schema[table.id_col], T.StructField("epoch", T.IntegerType())]
                )
            )
            .parquet(tpath)
            .groupBy(F.col(table.id_col).alias("_tid"))
            .agg(F.max(F.col("epoch").cast("long")).alias("_te"))
        )
        rows = rows.join(
            F.broadcast(tomb),
            (F.col(table.id_col) == F.col("_tid")) & (F.col("_te") > F.col(_EPOCH)),
            "left_anti",
        )
    return rows.drop(_EPOCH)


def _write_epoch(
    df: DataFrame, root: str, epoch: int, partition_by: tuple[str, ...]
) -> None:
    """Append one epoch directory (dynamic overwrite keyed on epoch:
    re-running the same epoch replaces it, never duplicates)."""
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            df.withColumn("epoch", F.lit(int(epoch)))
            .write.mode("overwrite")
            .partitionBy("epoch", *partition_by)
            .parquet(root)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def _epoch_bytes(log_dir: str, epoch: int) -> int:
    return dir_bytes(os.path.join(log_dir, f"epoch={epoch}"))


def lsm_upsert(
    spark: SparkSession, table_dir: str, table: Table, rows: DataFrame
) -> dict:
    """Merge a batch into the table: append its rows as a delta epoch
    and tombstone its ids (superseding any older rows — replace
    semantics). Both writes are ∝ batch; the base table is NOT
    touched.

    The delta lands first and the tombstones commit it: the
    tombstone epoch is a single directory rename at job commit, and
    lsm_view ignores a delta epoch that has no tombstone epoch. A
    crash between the two writes therefore leaves the view exactly
    as it was, and the idempotent retry runs at a fresh epoch. (A
    lakehouse table format commits both in one manifest swap; this
    is the plain-parquet ordering with the same guarantee.)

    Returns {"epoch", "delta_bytes", "tomb_bytes"} so tests and the
    scale probe can assert the write-cost bound."""
    epoch = _next_epoch(table_dir)
    _write_epoch(rows, delta_path(table_dir), epoch, table.partition_by)
    _write_epoch(
        rows.select(table.id_col).distinct(), tomb_path(table_dir), epoch, ()
    )
    return {
        "epoch": epoch,
        "delta_bytes": _epoch_bytes(delta_path(table_dir), epoch),
        "tomb_bytes": _epoch_bytes(tomb_path(table_dir), epoch),
    }


def lsm_delete(
    spark: SparkSession, table_dir: str, table: Table, ids: DataFrame
) -> dict:
    """Take-down: tombstones only — write cost ∝ doomed ids. The
    doomed rows stay on disk, suppressed by the view, until the next
    compact physically drops them (the right-to-be-forgotten SLA is
    therefore the compact cadence — same contract as every MOR table
    format's VACUUM)."""
    epoch = _next_epoch(table_dir)
    _write_epoch(
        ids.select(table.id_col).distinct(), tomb_path(table_dir), epoch, ()
    )
    return {"epoch": epoch, "tomb_bytes": _epoch_bytes(tomb_path(table_dir), epoch)}


def lsm_compact(spark: SparkSession, table_dir: str, table: Table) -> bool:
    """Fold delta+tombstones back into a fresh base laid out by the
    spec's partition and sort columns, then clear the logs — the
    amortized full rewrite. The fold is staged and swapped in by
    io.swap_dir; after a crash at any step the table is consistent
    on the next access from the single driver (see the module
    docstring). Returns True when a fold happened (False: nothing to
    fold)."""
    recover_dir(table_dir)
    if not lsm_epochs(table_dir):
        return False
    if not (_has_parquet(table_dir) or _has_parquet(delta_path(table_dir))):
        lsm_reset(table_dir)  # tombstones over a table that never had rows
        return False
    view = lsm_view(spark, table_dir, table)

    def write(staged: str) -> None:
        if view.limit(1).count() == 0:
            # schema-bearing empty base: one footer-only file (the
            # partition columns ride as ordinary data columns —
            # pruning is moot on an empty table)
            view.coalesce(1).write.parquet(staged)
            return
        out = view.repartition(*table.partition_by)
        if table.sort_within:
            out = out.sortWithinPartitions(*table.sort_within)
        out.write.partitionBy(*table.partition_by).parquet(staged)

    swap_dir(table_dir, write)
    lsm_reset(table_dir)
    return True


def lsm_maybe_compact(
    spark: SparkSession, table_dir: str, table: Table, quota: int | None = None
) -> bool:
    """The quota trigger (vector_index.index_compact's shape): fold
    when the log has accumulated ``quota`` epochs. Called at the end
    of every upsert/delete, so per-batch cost is batch + artifact /
    quota amortized."""
    q = DEFAULT_QUOTA if quota is None else quota
    if len(lsm_epochs(table_dir)) < q:
        return False
    return lsm_compact(spark, table_dir, table)


def lsm_commit(
    spark: SparkSession, art: Artifact, path: str, meta: dict, **fields
) -> dict:
    """The one sidecar tail: recount each table's declared totals
    from its current view (one aggregate per counted table), merge
    them and ``fields`` into ``meta``, and commit the sidecar."""
    meta = dict(meta)
    for t in art.tables:
        if t.totals:
            row = (
                lsm_view(spark, t.dir(path), t)
                .agg(*[F.expr(e).alias(k) for k, e in t.totals])
                .collect()[0]
            )
            meta.update({k: int(row[k]) for k, _e in t.totals})
    meta.update(fields)
    return art.commit(path, meta)


def _fold_and_commit(
    spark: SparkSession, art: Artifact, path: str, meta: dict, **fields
) -> dict:
    for t in art.tables:
        lsm_maybe_compact(spark, t.dir(path), t)
    return lsm_commit(spark, art, path, meta, **fields)


def artifact_upsert(
    spark: SparkSession,
    art: Artifact,
    path: str,
    meta: dict,
    rows: Sequence[DataFrame],
    **fields,
) -> dict:
    """Upsert one batch into every table of ``art`` (``rows`` in
    ``art.tables`` order), fold any table at its quota, recount and
    commit the sidecar. Returns the committed meta."""
    for t, r in zip(art.tables, rows, strict=True):
        lsm_upsert(spark, t.dir(path), t, r)
    return _fold_and_commit(spark, art, path, meta, **fields)


def artifact_delete(
    spark: SparkSession, art: Artifact, path: str, meta: dict, ids: DataFrame
) -> dict:
    """Tombstone ``ids`` (a frame carrying the tables' id column) in
    every table of ``art``, fold any table at its quota, recount and
    commit the sidecar. Returns the committed meta."""
    for t in art.tables:
        lsm_delete(spark, t.dir(path), t, ids)
    return _fold_and_commit(spark, art, path, meta)
