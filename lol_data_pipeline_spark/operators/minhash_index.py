"""Materialized MinHash-LSH dedup index: build ONCE as a band-
partitioned bucket table + a JSON stats sidecar, then PROBE incoming
document batches against it and MAINTAIN it band-locally — the DEDUP
member of the served-index family (quantization =
operators/vector_index.py, graph = operators/graph_index.py,
lexical = operators/text_index.py, dedup = this).

operators/dedup.py's minhash_lsh_probe derives BOTH sides from one
scan and documents the at-rest deployment its oracle models ("in
production the existing side's (band, bkey) buckets ... are AT REST,
written bucketed by bkey when each batch was ingested") — this module
is that deployment:

- BUILD (once): one shingle pass over the index corpus → k-permutation
  signatures → (id, band, bkey) bucket rows written hive-partitioned
  by ``band`` and sorted by ``bkey`` within files (a probe's per-band
  bkey point predicates become row-group skipping — the layout
  tests/test_data_skipping.py pins), plus a sidecar with the LSH
  params and source fingerprint, written once (no write recounts).
- PROBE (per batch): shingle + sign ONLY the incoming batch (the
  index corpus is never re-tokenized), equi-join its bucket rows
  against the persisted table on (band, bkey), then verify candidate
  pairs with EXACT Jaccard — the index side's shingles are recomputed
  for candidate ids only, via a pushed id join against the source
  corpus (the index stores 3 small columns per (doc, band), never
  shingle arrays — at 100 TB storing shingles would duplicate the
  corpus; the source stays the single copy of the text).
- MAINTAIN: batch-bounded LSM writes (operators/lsm.py — the r13
  verdict's headline fix): an upsert APPENDS the batch's bucket rows
  as a delta epoch plus id tombstones (write ∝ batch — each doc has
  a row in every band, so the old constant-partition-COUNT rewrite
  was still index-sized in BYTES); a delete appends tombstones only.
  Probes read the base∪delta view; the quota trigger folds the log
  back into a fresh bkey-sorted base. Idempotent at the view level.

Reference parity: the reference persists fetched documents and
re-serves them (src/api/db.py:23-38) — the same build-once/probe-many
contract, dedup axis.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lol_data_pipeline_spark.caching import tracked_persist
from lol_data_pipeline_spark.io import load_table
from lol_data_pipeline_spark.operators import artifact, lsm
from lol_data_pipeline_spark.operators.dedup import (
    _affine_params,
    _doc_shingle_arrays,
    _jaccard_verify,
    _MINHASH_P,
    minhash_band_buckets,
    shingle_array_signatures,
)

BUCKETS = lsm.Table(
    "buckets", "id", ("band",), ("bkey",), "id long, bkey string, band int",
    "doc_id",
)
buckets_path = BUCKETS.dir


def read_minhash_buckets(spark: SparkSession, path: str) -> DataFrame:
    """The artifact's logical (id, band, bkey) rows — the LSM view
    (plain base scan when the log is empty). Empty-with-schema when
    nothing is on disk, so probe-after-full-take-down works."""
    return BUCKETS.read(spark, path).select("id", "band", "bkey")


def _batch_buckets(docs: DataFrame, k: int, bands: int, n: int) -> DataFrame:
    """(id, band, bkey) bucket rows for a document frame — ONE
    shingle pass, one signature aggregate, one explode (the shared
    build/probe/maintain derivation, so the three cannot drift)."""
    base = _doc_shingle_arrays(docs, n, "text", "doc_id")
    return minhash_band_buckets(shingle_array_signatures(base, k), k, bands)


def build_minhash_index(
    spark: SparkSession,
    sf_dir: str,
    path: str,
    k: int = 16,
    bands: int = 8,
    n: int = 3,
    index_where: str = "",
) -> dict:
    """One shingle pass over the index corpus → band-partitioned
    bucket rows, bkey-sorted within files, + params/fingerprint
    sidecar. ``index_where`` (SQL over documents) selects the index
    side — '' means the whole corpus."""
    docs = load_table(spark, sf_dir, "documents")
    if index_where:
        docs = docs.filter(F.expr(index_where))
    BUCKETS.write_base(_batch_buckets(docs, k, bands, n), path)
    return artifact.save_meta(path, "minhash", {
        "fingerprint": artifact.source_fingerprint(sf_dir, "documents"),
        "params": {"k": k, "bands": bands, "n": n, "index_where": index_where},
    })


def ensure_minhash_index(
    spark: SparkSession,
    sf_dir: str,
    root: str | None = None,
    variant: str = "",
    k: int = 16,
    bands: int = 8,
    n: int = 3,
    index_where: str = "",
) -> tuple[str, dict]:
    """Build-if-absent-or-stale (:func:`artifact.ensure`); params +
    predicate are part of the staleness check."""
    return artifact.ensure(
        "minhash", sf_dir, "documents",
        {"k": k, "bands": bands, "n": n, "index_where": index_where},
        lambda path: build_minhash_index(
            spark, sf_dir, path, k=k, bands=bands, n=n, index_where=index_where
        ),
        root, variant,
    )


def served_minhash_probe(
    spark: SparkSession,
    path: str,
    meta: dict,
    batch_docs: DataFrame,
    verify_docs: DataFrame,
    threshold: float = 0.8,
) -> DataFrame:
    """Probe a document batch against the PERSISTED index: shingle +
    sign only the batch, equi-join its (band, bkey) rows against the
    bucket table, verify candidates with exact Jaccard. The index
    side's shingle arrays are recomputed ONLY for candidate ids via a
    join against ``verify_docs`` (the source corpus — plus any
    synthetic maintenance batch whose text is not in the source).
    Output (id_new, id_index, jaccard) matches
    operators/dedup.minhash_lsh_probe row-for-row, which is why the
    served entry shares dedup_incremental_minhash's oracle shape."""
    p = meta["params"]
    k, bands, n = p["k"], p["bands"], p["n"]
    base_new = tracked_persist(
        _doc_shingle_arrays(batch_docs, n, "text", "doc_id")
    )
    sigs = shingle_array_signatures(base_new, k)
    new_buckets = minhash_band_buckets(sigs, k, bands).alias("a")
    idx = read_minhash_buckets(spark, path).alias("b")
    cand = tracked_persist(
        new_buckets.join(
            idx,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey")),
        )
        .select(F.col("a.id").alias("id_new"), F.col("b.id").alias("id_index"))
        .distinct()
    )
    # index-side shingles for candidate ids only — pushed id join
    # against the text source, never a full-corpus re-shingle
    idx_ids = cand.select(F.col("id_index").alias("doc_id")).distinct()
    idx_base = _doc_shingle_arrays(
        verify_docs.join(idx_ids, "doc_id"), n, "text", "doc_id"
    )
    # _jaccard_verify joins ``base`` twice (left and right side of the
    # pair); unpersisted, the candidate-bounded shingle subtree — the
    # probe's heaviest work — would compute twice, one copy inside a
    # single-task broadcast build. Persisting cand+base computes each
    # once and lets both verify joins read cached blocks.
    base = tracked_persist(base_new.unionByName(idx_base))
    return _jaccard_verify(cand, base, "id_new", "id_index", threshold).orderBy(
        "id_new", "id_index"
    )


def minhash_index_upsert(
    spark: SparkSession, path: str, meta: dict, new_docs: DataFrame
) -> dict:
    """Merge a document batch into the persisted index: its bucket
    rows APPEND as a delta epoch + tombstones of the batch's doc ids
    (write ∝ batch; re-ingesting a changed document replaces at the
    view level, never double-buckets, even when its new text is too
    short to bucket). Older rows physically drop at the
    quota-triggered compact. Idempotent. Returns ``meta`` unchanged."""
    p = meta["params"]
    rows = _batch_buckets(new_docs, p["k"], p["bands"], p["n"])
    BUCKETS.upsert(spark, path, rows, new_docs)
    BUCKETS.fold(spark, path)
    return meta


def minhash_index_delete(
    spark: SparkSession, path: str, meta: dict, doomed_ids: DataFrame
) -> dict:
    """Take-down: tombstones only (write ∝ doomed ids) — the batch's
    bucket rows vanish from the VIEW immediately, from disk at the
    next compact. Idempotent. Returns ``meta`` unchanged."""
    BUCKETS.delete(spark, path, doomed_ids)
    BUCKETS.fold(spark, path)
    return meta


def minhash_sql_ctes(
    k: int, bands: int, n: int, src: str = "documents", prefix: str = "mh"
) -> str:
    """DuckDB CTE chain re-deriving the index's (id, band, bkey)
    bucket rows from the corpus: distinct word n-gram shingles → base
    hash (the shared SQL_MD5_LONG twin of functions.hashing.md5_long,
    mod the Mersenne prime) → k affine-permutation mins → one bkey
    row per band. The affine (a, b) constants are the SAME
    _affine_params the Spark aggregate uses — inlined as literals so
    both engines run identical integer arithmetic."""
    r = k // bands
    params = _affine_params(k)
    md5 = "CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT)"
    mins = ", ".join(
        f"min((bh * {a} + {b}) % {_MINHASH_P}) AS h{i}"
        for i, (a, b) in enumerate(params)
    )
    band_rows = "\n      UNION ALL\n      ".join(
        "SELECT id, {b} AS band, concat_ws('_', {cols}) AS bkey FROM {pfx}sigs".format(
            b=b,
            cols=", ".join(
                f"CAST(h{b * r + j} AS VARCHAR)" for j in range(r)
            ),
            pfx=prefix,
        )
        for b in range(bands)
    )
    shingles = (
        f"list_transform(generate_series(1, greatest(0, len(t) - {n - 1})), "
        f"i -> array_to_string(list_slice(t, i, i + {n - 1}), ' '))"
    )
    return f"""{prefix}tok AS (
      SELECT doc_id AS id,
             list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '') AS t
      FROM {src}
    ),
    {prefix}sh AS (
      SELECT id, unnest(list_distinct({shingles})) AS s FROM {prefix}tok
    ),
    {prefix}bh AS (SELECT id, ({md5}) % {_MINHASH_P} AS bh FROM {prefix}sh),
    {prefix}sigs AS (SELECT id, {mins} FROM {prefix}bh GROUP BY id),
    {prefix}buckets AS (
      {band_rows}
    )"""
