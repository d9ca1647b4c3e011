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
  Write cost ∝ batch ids.
- VIEW: base∪delta minus superseded — one broadcast hash LEFT ANTI
  join on id with the extra ``tomb.epoch > row.epoch`` condition.
  The tombstone side is bounded by maintenance volume since the last
  compact (quota-bounded below), never by the corpus. With no
  deltas/tombstones on disk the view IS the bare base scan — the
  read-only serve path pays nothing.
- COMPACT: when accumulated epochs reach the quota, fold the view
  back into a fresh base (staged write + two-rename swap, the
  io.compact_parquet crash-safety shape) and clear delta+tomb. The
  full-artifact rewrite every batch used to pay now amortizes over
  ``quota`` batches, and the tombstone broadcast stays bounded.

Deletion of an id that never existed, re-upserting the same batch,
and upsert-after-full-delete are all no-ops/safe by construction —
the view algebra does not care (fixes the r13 ADVICE emptied-table
crash class structurally: every read declares the table's schema,
so an emptied table reads as an empty frame, never an inference
error).

Each index family declares every LSM table it keeps exactly once, as a
:class:`Table` (directory name, id column, partition and sort columns,
schema DDL). The declaration owns the table's whole life: the build's
base write (the same layout a compaction writes, then a fresh
generation), the view (declared schema; an empty frame of that schema
when nothing is on disk), the upsert/delete appends (conformed to the
DDL; an upsert tombstones the batch's key column, so a document whose
new text derives no rows still loses its old ones) and the quota fold
(reads with the DDL, never infers). Every read here declares its
schema, so none pays a footer-inference job. A family's sidecar is
written once, by its build; every write ends in :meth:`Table.fold`
and stores no count. A read that needs a count (BM25's ``n_docs`` and
``avgdl``, the ``*_index_stats`` totals) aggregates the view inside
its own plan, so no count can lag the tables.

tests/test_lsm_maintenance.py pins: delta bytes scale with the
batch, not the corpus (the r13 verdict's done-criterion), view
equality across compact, idempotence, replace precedence, and
upsert-after-full-delete.
"""

from __future__ import annotations

import os
import shutil
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lol_data_pipeline_spark.io import write_overwrite

DEFAULT_QUOTA = 8  # epochs accumulated before a fold-back

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


def lsm_epochs(table_dir: str) -> list[int]:
    """Epochs present in the delta/tombstone logs (directory listing
    — bounded by the quota, never data-sized)."""
    found: set[int] = set()
    for d in (delta_path(table_dir), tomb_path(table_dir)):
        if not os.path.isdir(d):
            continue
        for name in os.listdir(d):
            if name.startswith("epoch="):
                try:
                    found.add(int(name.split("=", 1)[1]))
                except ValueError:
                    pass
    return sorted(found)


def _next_epoch(table_dir: str) -> int:
    eps = lsm_epochs(table_dir)
    return (eps[-1] + 1) if eps else 1


def _refresh(spark: SparkSession, table_dir: str) -> None:
    """Invalidate cached plans over the table after its files change.
    The path prefix also covers the ``__delta``/``__tomb`` logs. A
    compaction restarts the epochs at 1, so a view plan after it can
    equal one cached before the writes; without this, the cache would
    serve that plan's old rows."""
    spark.catalog.refreshByPath(table_dir)


def lsm_reset(table_dir: str) -> None:
    """Drop the delta/tombstone logs — a full REBUILD writes a fresh
    base, so stale logs from a previous generation must not leak into
    its view. :meth:`Table.write_base` calls this after writing base."""
    shutil.rmtree(delta_path(table_dir), ignore_errors=True)
    shutil.rmtree(tomb_path(table_dir), ignore_errors=True)


def lsm_view(
    spark: SparkSession, table_dir: str, id_col: str, schema: str
) -> DataFrame | None:
    """The logical current table: base∪delta minus superseded rows.

    None when no generation of the table has any data file (never
    built, or built empty and compacted away) — :meth:`Table.read`
    substitutes an empty frame of the declared schema. With empty
    logs this returns the PLAIN base scan: the serve path's plan (and
    its pushed partition/row-group predicates) is byte-identical to
    the pre-LSM design, so read-only benches pay nothing for the
    layer.

    ``schema`` is the family's BASE table DDL (data + partition
    columns, in storage order). Every read here declares it instead
    of inferring it — parquet schema inference launches a footer-read
    job per read call (~75 ms), which a served probe would pay once
    per table.
    """
    base_schema = T.StructType.fromDDL(schema)
    srcs: list[DataFrame] = []
    if _has_parquet(table_dir):
        srcs.append(
            spark.read.schema(base_schema)
            .parquet(table_dir)
            .withColumn(_EPOCH, F.lit(0).cast("long"))
        )
    dpath = delta_path(table_dir)
    if _has_parquet(dpath):
        dschema = T.StructType(
            base_schema.fields + [T.StructField("epoch", T.IntegerType())]
        )
        srcs.append(
            spark.read.schema(dschema)
            .parquet(dpath)
            .withColumn(_EPOCH, F.col("epoch").cast("long"))
            .drop("epoch")
        )
    if not srcs:
        return None
    rows = srcs[0]
    for s in srcs[1:]:
        rows = rows.unionByName(s)
    tpath = tomb_path(table_dir)
    if _has_parquet(tpath):
        # max tombstone epoch per id — bounded by maintenance volume
        # since the last compact (the quota), broadcastable always.
        tschema = T.StructType(
            [base_schema[id_col], T.StructField("epoch", T.IntegerType())]
        )
        tomb = (
            spark.read.schema(tschema)
            .parquet(tpath)
            .groupBy(F.col(id_col).alias("_tid"))
            .agg(F.max(F.col("epoch").cast("long")).alias("_te"))
        )
        rows = rows.join(
            F.broadcast(tomb),
            (F.col(id_col) == F.col("_tid")) & (F.col("_te") > F.col(_EPOCH)),
            "left_anti",
        )
    return rows.drop(_EPOCH)


def _write_epoch(
    df: DataFrame, root: str, epoch: int, partition_by: list[str]
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


def lsm_upsert(
    spark: SparkSession,
    table_dir: str,
    rows: DataFrame,
    partition_by: list[str],
    tombstone_ids: DataFrame,
) -> dict:
    """Merge a batch into the table: append its rows as a delta epoch
    and tombstone ``tombstone_ids``, the batch's keys (superseding any
    older rows — replace semantics). Both writes are ∝ batch; the base
    table is NOT touched.

    Write order is TOMBSTONES FIRST: the two appends are not atomic
    together, and a crash between them must fail CLOSED — tombstones
    without delta under-report the batch's ids until the (idempotent)
    retry re-runs at a fresh epoch, whereas delta-without-tombstones
    would surface BOTH the old and new rows of every replaced id,
    silently over-matching every probe. (A lakehouse table format
    commits both in one manifest swap; this is the plain-parquet
    ordering that preserves the same no-duplicates guarantee.)

    Returns {"epoch", "delta_bytes", "tomb_bytes"} so tests and the
    scale probe can assert the write-cost bound."""
    epoch = _next_epoch(table_dir)
    _write_epoch(tombstone_ids.distinct(), tomb_path(table_dir), epoch, [])
    _write_epoch(rows, delta_path(table_dir), epoch, partition_by)
    _refresh(spark, table_dir)
    return {
        "epoch": epoch,
        "delta_bytes": dir_bytes(
            os.path.join(delta_path(table_dir), f"epoch={epoch}")
        ),
        "tomb_bytes": dir_bytes(
            os.path.join(tomb_path(table_dir), f"epoch={epoch}")
        ),
    }


def lsm_delete(spark: SparkSession, table_dir: str, ids: DataFrame) -> dict:
    """Take-down: tombstones only — write cost ∝ doomed ids. The
    doomed rows stay on disk, suppressed by the view, until the next
    compact physically drops them (the right-to-be-forgotten SLA is
    therefore the compact cadence — same contract as every MOR table
    format's VACUUM)."""
    epoch = _next_epoch(table_dir)
    _write_epoch(ids.distinct(), tomb_path(table_dir), epoch, [])
    _refresh(spark, table_dir)
    return {
        "epoch": epoch,
        "tomb_bytes": dir_bytes(
            os.path.join(tomb_path(table_dir), f"epoch={epoch}")
        ),
    }


def _layout(
    df: DataFrame, partition_by: list[str], sort_within: list[str] | None
) -> DataFrame:
    """A base generation's file layout: one shuffle on the partition
    columns, sorted within files (row-group skipping)."""
    out = df.repartition(*partition_by)
    return out.sortWithinPartitions(*sort_within) if sort_within else out


def lsm_compact(
    spark: SparkSession,
    table_dir: str,
    id_col: str,
    partition_by: list[str],
    schema: str,
    sort_within: list[str] | None = None,
) -> bool:
    """Fold delta+tombstones back into a fresh base and clear the
    logs — the amortized full rewrite. ``schema`` is the table's DDL;
    ``sort_within`` restores the family's row-group-skipping layout
    (chunk/bkey/h-sorted files).
    Staged write + rename swap: a reader racing the swap sees the old
    or the new complete generation, never a mix. Returns True when a
    fold happened (False: nothing to fold)."""
    if not lsm_epochs(table_dir):
        return False
    view = lsm_view(spark, table_dir, id_col, schema)
    staged = f"{table_dir}__compact_{uuid.uuid4().hex[:8]}"
    if view is None or view.limit(1).count() == 0:
        if view is not None:
            # schema-bearing empty base: one footer-only file, so even
            # a bare read of the directory finds the family schema (the
            # partition columns ride as ordinary data columns — pruning
            # is moot on an empty table).
            view.coalesce(1).write.parquet(staged)
        else:
            lsm_reset(table_dir)
            _refresh(spark, table_dir)
            return False
    else:
        _layout(view, partition_by, sort_within).write.partitionBy(
            *partition_by
        ).parquet(staged)
    old = f"{table_dir}__old_{uuid.uuid4().hex[:8]}"
    if os.path.isdir(table_dir):
        os.rename(table_dir, old)
    os.rename(staged, table_dir)
    shutil.rmtree(old, ignore_errors=True)
    lsm_reset(table_dir)
    _refresh(spark, table_dir)
    return True


def lsm_maybe_compact(
    spark: SparkSession,
    table_dir: str,
    id_col: str,
    partition_by: list[str],
    schema: str,
    sort_within: list[str] | None = None,
    quota: int | None = None,
) -> bool:
    """The quota trigger (vector_index.index_compact's shape): fold
    when the log has accumulated ``quota`` epochs. Called at the end
    of every upsert/delete, so per-batch cost is batch + artifact /
    quota amortized."""
    q = DEFAULT_QUOTA if quota is None else quota
    if len(lsm_epochs(table_dir)) < q:
        return False
    return lsm_compact(
        spark, table_dir, id_col, partition_by, schema, sort_within=sort_within
    )


def _conform(df: DataFrame, ddl: str) -> DataFrame:
    """``df`` as exactly the declared columns, in DDL order and type —
    so a write can never put a column on disk that the declared read
    would null-fill or misread."""
    return df.select(
        *[
            F.col(f.name).cast(f.dataType).alias(f.name)
            for f in T.StructType.fromDDL(ddl)
        ]
    )


@dataclass(frozen=True)
class Table:
    """One LSM table of an index family, declared once. ``name`` is its
    directory under the artifact; ``ddl`` lists data then partition
    columns, in storage order; ``key`` is the column a write's batch
    carries the ids in."""

    name: str
    id_col: str
    partition_by: tuple[str, ...]
    sort_within: tuple[str, ...]
    ddl: str
    key: str

    def dir(self, path: str) -> str:
        return os.path.join(path, self.name)

    def write_base(self, df: DataFrame, path: str) -> None:
        """The build's base: the layout :func:`lsm_compact` writes,
        then a fresh generation (stale logs must not leak into it)."""
        write_overwrite(
            _layout(_conform(df, self.ddl), list(self.partition_by),
                    list(self.sort_within)),
            self.dir(path), partition_by=list(self.partition_by),
        )
        lsm_reset(self.dir(path))

    def read(self, spark: SparkSession, path: str) -> DataFrame:
        """The logical table (:func:`lsm_view` with the declared
        schema); empty with that schema when nothing is on disk."""
        view = lsm_view(spark, self.dir(path), self.id_col, self.ddl)
        return view if view is not None else spark.createDataFrame([], self.ddl)

    def _ids(self, batch: DataFrame) -> DataFrame:
        id_type = T.StructType.fromDDL(self.ddl)[self.id_col].dataType
        return batch.select(F.col(self.key).cast(id_type).alias(self.id_col))

    def upsert(
        self, spark: SparkSession, path: str, rows: DataFrame, batch: DataFrame
    ) -> dict:
        """Append ``rows``, derived from ``batch``; tombstone the batch's
        ``key`` column."""
        return lsm_upsert(
            spark, self.dir(path), _conform(rows, self.ddl),
            list(self.partition_by), self._ids(batch),
        )

    def delete(self, spark: SparkSession, path: str, batch: DataFrame) -> dict:
        """Tombstone the batch's ``key`` column."""
        return lsm_delete(spark, self.dir(path), self._ids(batch))

    def compact(self, spark: SparkSession, path: str) -> bool:
        """Force the fold (:func:`lsm_compact` with the declared layout)."""
        return lsm_compact(
            spark, self.dir(path), self.id_col, list(self.partition_by),
            self.ddl, sort_within=list(self.sort_within),
        )

    def fold(self, spark: SparkSession, path: str) -> bool:
        """The quota trigger (:func:`lsm_maybe_compact`)."""
        return lsm_maybe_compact(
            spark, self.dir(path), self.id_col, list(self.partition_by),
            self.ddl, sort_within=list(self.sort_within),
        )
