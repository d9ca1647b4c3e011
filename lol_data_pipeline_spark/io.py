"""Table IO: parquet scans and sinks.

The reference's sink is truncate-then-bulk-insert into MongoDB
(reference src/api/db.py:23-38); in Spark that is exactly
``df.write.mode("overwrite")`` into a columnar table, which is what
:func:`write_overwrite` does. Scans are plain ``spark.read.parquet``
so Catalyst gets predicate pushdown + column pruning for free.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def ts_from_epoch(colname: str):
    """Normalize a long epoch column of UNKNOWN unit to a timestamp.

    Parquet timestamps reach Spark as a raw int64 in two situations —
    TIMESTAMP(NANOS) under ``spark.sql.legacy.parquet.nanosAsLong``,
    and any timestamp column read through a user-forced ``bigint``
    schema (e.g. the file streaming source) which reinterprets the
    physical int64 in whatever unit the file stored. Assuming one
    unit is how round 3's streaming bug happened (micros divided as
    if nanos → every event in 1970). Detect the unit per row by
    magnitude instead; valid for dates 1973–5138 in every unit, and
    all four branches stay integer arithmetic (a double division at
    1e18 ns would lose sub-microsecond precision).

    Values OUTSIDE the detectable window map to NULL rather than a
    plausible-but-wrong timestamp: anything ≤ 1e8 (pre-1973 seconds,
    zero, negatives/pre-1970) is ambiguous between units, so the
    window is enforced, not just documented.
    """
    from pyspark.sql import functions as F

    c = colname
    return F.expr(
        f"""CASE
          WHEN {c} IS NULL OR {c} <= 100000000 THEN CAST(NULL AS TIMESTAMP)
          WHEN {c} > 100000000000000000 THEN timestamp_micros({c} div 1000)
          WHEN {c} > 100000000000000 THEN timestamp_micros({c})
          WHEN {c} > 100000000000 THEN timestamp_millis({c})
          ELSE timestamp_seconds({c})
        END"""
    )


# Inferred-schema memo for base-table scans, keyed by the file's
# (path, mtime, size): parquet schema inference launches a footer-read
# job on EVERY spark.read.parquet call (~75 ms measured), and the
# engine re-reads the same immutable tables in every query. This
# caches METADATA only (the same thing Spark's own FileStatusCache
# does for listings) — never data or results; a rewritten file misses
# the key and re-infers. Process-lifetime by design: the key space is
# one entry per (table path, generation), bounded by how often the
# immutable base tables are regenerated within one session.
_SCHEMA_CACHE: dict[tuple, object] = {}


def _table_key(path: str) -> tuple | None:
    """Staleness key for the schema memo. For a single file:
    (path, mtime_ns, size). For a DIRECTORY table, the directory's
    own stat is NOT enough — rewriting a member file's contents in
    place (same entry name) leaves the dir mtime unchanged (r14
    ADVICE) — so fold in every member file's (name, mtime_ns, size),
    the same stat set artifact.source_fingerprint hashes."""
    try:
        st = os.stat(path)
        if not os.path.isdir(path):
            return (path, st.st_mtime_ns, st.st_size)
        members = tuple(
            (f, s.st_mtime_ns, s.st_size)
            for root, _dirs, files in os.walk(path)
            for f in sorted(files)
            for s in (os.stat(os.path.join(root, f)),)
        )
        return (path, members)
    except OSError:
        return None


def table_schema(spark: SparkSession, sf_dir: str, name: str):
    """The RAW inferred schema of a base table (before any ts
    normalization), through the same memo load_table fills — callers
    that only need the schema (the file streaming source's required
    explicit schema) skip the footer-inference job on every warm
    call."""
    path = table_path(sf_dir, name)
    key = _table_key(path)
    schema = _SCHEMA_CACHE.get(key) if key else None
    if schema is None:
        schema = spark.read.parquet(path).schema
        if key:
            _SCHEMA_CACHE[key] = schema
    return schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar scan of one table; filters/projections push down.

    If the events table stores ``ts`` as parquet TIMESTAMP(NANOS),
    Spark's reader only surfaces it as a long (see session.py's
    nanosAsLong conf); normalize to a timestamp here, matching how
    the DuckDB oracle reads it. TIMESTAMP(MICROS) files arrive as a
    proper TimestampType and need no conversion.
    """
    path = table_path(sf_dir, name)
    df = spark.read.schema(table_schema(spark, sf_dir, name)).parquet(path)
    from pyspark.sql import types as T

    if name == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
        df = df.withColumn("ts", ts_from_epoch("ts"))
    return df


def widen(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Round-robin repartition a narrow input up to full parallelism
    before CPU-heavy per-row work (shingling, hashing, vector math).

    Small scans (one parquet file → one split) would otherwise run
    an expensive map stage on a single core. On large scans this is
    a NO-OP: a 100-TB table has far more leaf files than cores, so
    the scale path never pays an extra exchange — only inputs too
    small to already be parallel get spread out.

    The width estimate is METADATA-ONLY (``inputFiles`` file
    listing): touching ``df.rdd`` here would force physical planning
    of the whole subtree outside AQE's view just to count partitions.
    A file-backed input with >= target leaf files is already at least
    that parallel; non-file inputs (in-memory test relations,
    range/union mocks) are small by construction and just get
    repartitioned.
    """
    target = min_parts or df.sparkSession.sparkContext.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:
        n_files = 0
    if n_files >= target:
        return df
    return df.repartition(target)


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view for the SQL API."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def write_overwrite(
    df: DataFrame, path: str, partition_by: list[str] | None = None
) -> None:
    """Truncate-and-load sink (reference db.py:32-37 semantics).

    ``mode("overwrite")`` is delete-all-then-insert; ``partition_by``
    produces hive-style directory partitioning so downstream scans
    get partition pruning — at 100 TB, always partition by the
    dominant filter column (e.g. a date).
    """
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_clustered(
    df: DataFrame,
    path: str,
    cluster_by: list[str],
    partition_by: list[str] | None = None,
    num_files: int | None = None,
) -> None:
    """Truncate-and-load with RANGE CLUSTERING on ``cluster_by`` —
    the data-skipping layout for non-partition filter columns.

    ``repartitionByRange`` gives every output file a narrow,
    near-disjoint range of the cluster key, and
    ``sortWithinPartitions`` tightens each parquet ROW GROUP's
    min/max statistics inside the file. A reader's pushed predicate
    then skips whole row groups whose [min, max] cannot match — at
    100 TB this is the difference between scanning every file and
    touching the one file that can contain the value. Directory
    partitioning (``partition_by``) handles the coarse,
    low-cardinality dimension (a date); clustering handles the
    high-cardinality one (user id, document hash) where a directory
    per value is unworkable.

    The range exchange samples the key distribution, so skewed keys
    still yield balanced files (contrast hash bucketing, which pins
    a hot key to one bucket). ``num_files`` sizes the layout — at
    scale pick data_size / target_file_size (AQE otherwise coalesces
    a small exchange down to one file, which has nothing to skip).
    tests/test_data_skipping.py measures the effect on real
    row-group stats via pyarrow.
    """
    parts = [num_files] if num_files else []
    clustered = df.repartitionByRange(*parts, *cluster_by).sortWithinPartitions(
        *cluster_by
    )
    write_overwrite(clustered, path, partition_by=partition_by)


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    preserve_clustering: list[str] | None = None,
) -> int:
    """Compact a small-files parquet table in place; returns the new
    file count.

    The small-files problem is the dominant operational failure mode
    of long-lived streaming/incremental sinks: every micro-batch or
    upsert appends a few files, and a year later the table has
    millions of kilobyte files — scan planning (file listing + one
    task per file) costs more than the I/O. Compaction sizes output
    files from the table's OWN current bytes (metadata listing, no
    data pass): ceil(total_bytes / target).

    ``preserve_clustering`` re-sorts by the given columns during the
    rewrite (repartitionByRange + sortWithinPartitions), so a table
    laid out by write_clustered keeps its data-skipping stats;
    without it the rewrite is a plain coalesce-shaped shuffle-free
    rebalance when shrinking, which preserves existing within-file
    order.

    The rewrite stages into a sibling directory and swaps via two
    renames — readers racing the swap see either the old or the new
    complete table, never a mix. (A lakehouse table format does this
    transactionally; this is the format-free equivalent for plain
    parquet directories.)
    """
    import math
    import shutil
    import uuid

    df = spark.read.parquet(path)
    total = sum(
        os.path.getsize(os.path.join(dirpath, f))
        for dirpath, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )
    n_files = max(1, math.ceil(total / target_file_bytes))
    if preserve_clustering:
        out = df.repartitionByRange(
            n_files, *preserve_clustering
        ).sortWithinPartitions(*preserve_clustering)
    else:
        out = df.coalesce(n_files)
    staged = f"{path}__compact_{uuid.uuid4().hex[:8]}"
    out.write.parquet(staged)
    old = f"{path}__old_{uuid.uuid4().hex[:8]}"
    os.rename(path, old)
    os.rename(staged, path)
    shutil.rmtree(old)
    return n_files


def load_file(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: str | None = None,
    **options: str,
) -> DataFrame:
    """Generic file source (parquet / json / csv / orc / text).

    Always pass ``schema`` for json/csv at scale: schema inference
    costs a full extra pass over the data and can mis-type sparse
    columns. Parquet/ORC carry their schema and support predicate
    pushdown + column pruning; json/csv prune columns at the parser
    (Spark only materializes referenced fields).
    """
    reader = spark.read.format(fmt)
    if schema:
        reader = reader.schema(schema)
    elif fmt in ("json", "csv"):
        reader = reader.option("inferSchema", "true")
    if fmt == "csv" and "header" not in options:
        options["header"] = "true"
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load(path)


def write_upsert_partitions(
    df: DataFrame,
    path: str,
    partition_by: list[str],
) -> None:
    """Incremental sink: overwrite ONLY the partitions present in
    ``df``, leaving all other partitions untouched (dynamic partition
    overwrite). This is the idempotent daily-load pattern at 100 TB —
    re-running a day replaces exactly that day, and a retried job is
    a no-op rather than a duplicate append.

    Dynamic overwrite only touches partitions PRESENT in ``df``, so a
    partition whose rows were ALL removed by an anti-join never gets
    rewritten here — callers that can empty a partition must drop the
    stale directory themselves with values they KNOW are simple
    scalars (graph_index._drop_emptied, vector_index.index_delete),
    or use the LSM layer (operators/lsm.py) whose tombstones make the
    problem moot. (A previous generic ``must_rewrite`` parameter
    built ``col=val`` directory names by f-string — wrong for
    Hive-escaped strings/null partitions/non-file URIs (r13 ADVICE);
    it died with its last caller in the r14 LSM conversion.)
    """
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        df.write.mode("overwrite").partitionBy(*partition_by).parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
