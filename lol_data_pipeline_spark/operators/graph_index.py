"""Materialized k-NN GRAPH index: build ONCE as a pair of
``code``-partitioned parquet tables (nodes + edges) with a JSON
sidecar (literal LSH plane vectors, params, source fingerprint),
then SERVE graph-walk queries from the persisted edges and MAINTAIN
the artifact bucket-locally — the graph-family twin of
operators/vector_index.py's IVF+PQ lifecycle.

The in-query beam walk (plans/round10.py ann_graph_beam_topk)
rebuilds the kNN graph per run — the same recompute-vs-serve gap the
IVF family closed. This module closes it for the graph axis:

- BUILD (once, amortized): LSH-code the corpus (sign of the dot with
  the first ``n_planes`` corpus vectors — deterministic, and the
  literal plane vectors persist in the sidecar so maintenance never
  depends on the source still containing them), then the bucket
  SELF-join top-k edge construction (Σ bucket², never N²) —
  operators/similarity.bucket_edges, the one edge definition the
  in-query similarity.knn_graph also runs, with the bucket code KEPT
  as a column. Both tables are written hive-partitioned by
  ``code``: edges only ever form WITHIN a bucket, so the bucket is
  the graph's natural maintenance unit — any node change touches
  exactly one partition of each table.
- SERVE (per query batch): :func:`served_beam_topk` scans the
  persisted edge table and runs :func:`beam_walk`, the package's one
  beam-round loop (frontier = Q×B rows, lineage-truncated per
  round), which the in-query ann_graph_beam_topk runs too — the
  data-bound graph build is GONE from the query path.
- MAINTAIN (incremental): a new vector batch is coded against the
  FROZEN sidecar planes (pure projection). The NODES table — the big
  bytes, it holds the embeddings — takes a batch-bounded LSM write
  (operators/lsm.py, the r13 verdict's headline fix): the batch
  APPENDS as a delta epoch + id tombstones, write ∝ batch, and the
  quota trigger folds the log back. Each affected bucket's EDGES are
  then RECOMPUTED from the merged members (read through the LSM
  view) and only those edge partitions rewrite — bucket-local
  recompute is EXACT parity with a full rebuild precisely because
  edges never cross buckets; the edge table is k rows × 4 small
  columns per member, orders smaller than the vectors the old shape
  rewrote. Tombstones also cover the re-ingest-moves-buckets case
  (a changed embedding can land in a NEW code; the old row's bucket
  is included in the affected set so its edges heal). Deletes append
  tombstones and recompute the affected buckets' edges. Idempotent
  at the view level by construction.

Scale: the nodes table stores (vec_id, embedding) per bucket — a
graph index must keep vectors to score new edges (DiskANN/HNSW store
them too); the EDGE table a walk scans is k·N tiny rows. Maintenance
work is Σ affected-bucket² pair math + batch-sized node writes —
bounded by the batch's bucket fan-out, never corpus-sized.

Reference parity: the reference persists fetched documents and
re-serves them without refetching (reference src/api/db.py:23-38);
this is the same build-once/serve-many contract for the graph family.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lol_data_pipeline_spark.io import (
    load_table,
    widen,
    write_overwrite,
    write_upsert_partitions,
)
from lol_data_pipeline_spark.operators import artifact, lsm
from lol_data_pipeline_spark.operators.similarity import bucket_edges, cosine, dot


def assign_codes(
    df: DataFrame,
    planes: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, embedding, code) against FROZEN literal plane vectors —
    bit j = round(x·plane_j, 6) >= 0, the same rounded sign test as
    similarity._lsh_codes (there the planes ride as a broadcast join
    because they come from the corpus; here they are sidecar
    literals, so the assignment is a pure projection — no join at
    all, the shape incremental maintenance needs)."""
    x = F.col(vec_col).cast("array<double>")
    bits = [
        F.when(
            F.round(dot(x, F.lit([float(v) for v in p])), 6) >= 0,
            F.lit(1 << j).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        for j, p in enumerate(planes)
    ]
    code = bits[0]
    for b in bits[1:]:
        code = code + b
    return df.select(
        F.col(id_col).alias("vec_id"),
        x.alias("embedding"),
        code.alias("code"),
    )


NODES = lsm.Table(
    "nodes", "vec_id", ("code",), (),
    "vec_id long, embedding array<double>, code int", "vec_id",
)
nodes_path = NODES.dir


def edges_path(path: str) -> str:
    return os.path.join(path, "edges")


def build_knn_graph_index(
    spark: SparkSession,
    sf_dir: str,
    path: str,
    n_planes: int = 6,
    k: int = 3,
) -> dict:
    """The graph BUILD: code the corpus against the first
    ``n_planes`` corpus vectors, persist nodes and top-k edges
    hive-partitioned by ``code``, and write the sidecar (literal
    plane vectors + source fingerprint + params) once: writes never
    touch it. One bucket self-join over the whole corpus — the
    Σ bucket² pass the serve path never repays."""
    emb = widen(load_table(spark, sf_dir, "embeddings"))
    plane_rows = (
        emb.filter(F.col("vec_id") < n_planes)
        .orderBy("vec_id")
        .select(F.col("embedding").cast("array<double>").alias("p"))
        .collect()
    )
    planes = [[float(v) for v in r.p] for r in plane_rows]
    NODES.write_base(assign_codes(emb, planes), path)
    write_overwrite(
        bucket_edges(read_nodes(spark, path), k), edges_path(path),
        partition_by=["code"],
    )
    return artifact.save_meta(path, "knn", {
        "fingerprint": artifact.source_fingerprint(sf_dir, "embeddings"),
        "params": {"n_planes": n_planes, "k": k},
        "planes": planes,
    })


def ensure_knn_graph_index(
    spark: SparkSession,
    sf_dir: str,
    root: str | None = None,
    variant: str = "",
    n_planes: int = 6,
    k: int = 3,
) -> tuple[str, dict]:
    """Build-if-absent-or-stale (:func:`artifact.ensure`)."""
    return artifact.ensure(
        "knn", sf_dir, "embeddings", {"n_planes": n_planes, "k": k},
        lambda path: build_knn_graph_index(
            spark, sf_dir, path, n_planes=n_planes, k=k
        ),
        root, variant,
    )


def read_edges(
    spark: SparkSession, path: str, codes: list[int] | None = None
) -> DataFrame:
    """Scan of the persisted edge table, pruned to ``codes`` when
    given (literal partition filters → directory pruning). The schema
    is declared (it is fixed at build time) so the read never pays a
    schema-inference footer job."""
    df = spark.read.schema(
        "src_id long, dst_id long, sim double, rank long, code int"
    ).parquet(edges_path(path))
    if codes is not None:
        df = df.filter(F.col("code").isin([int(c) for c in codes]))
    return df.select("code", "src_id", "dst_id", "sim", "rank")


def read_nodes(
    spark: SparkSession, path: str, codes: list[int] | None = None
) -> DataFrame:
    """Logical node set — the LSM view (plain base scan when the log
    is empty); the code filter prunes base AND delta directories."""
    df = NODES.read(spark, path)
    if codes is not None:
        df = df.filter(F.col("code").isin([int(c) for c in codes]))
    return df.select("vec_id", "embedding", "code")


def _affected_codes(coded: DataFrame) -> list[int]:
    """Distinct bucket codes of a batch — bounded by 2^n_planes, the
    graph twin of the IVF ≤-codebook-size bound."""
    return sorted(int(r.code) for r in coded.select("code").distinct().collect())


def _drop_emptied(
    spark: SparkSession, table_dir: str, affected: list[int], written: DataFrame
) -> None:
    """Dynamic overwrite only rewrites partitions PRESENT in the
    written frame — an affected bucket that ended up empty would
    silently keep its old directory. Drop those explicitly (bounded
    by the affected set)."""
    survived = {
        int(r.code) for r in written.select("code").distinct().collect()
    }
    for c in affected:
        if c not in survived:
            shutil.rmtree(
                os.path.join(table_dir, f"code={c}"), ignore_errors=True
            )


def graph_upsert(
    spark: SparkSession, path: str, meta: dict, new_vecs: DataFrame
) -> list[int]:
    """Merge a new vector batch into the persisted graph: code the
    batch against the FROZEN sidecar planes (pure projection), LSM-
    append it to the nodes table (delta epoch + id tombstones —
    write ∝ batch, never the bucket's stored vectors), then
    RECOMPUTE the affected buckets' edges from the merged members
    (the post-write view) — exact parity with a full rebuild because
    edges never cross buckets. Affected = the batch's codes ∪ the
    codes replaced ids previously lived in (a changed embedding can
    move buckets; the old bucket's edges must heal). Idempotent at
    the view level. Returns affected codes."""
    k = meta["params"]["k"]
    coded = assign_codes(new_vecs, meta["planes"])
    batch_codes = _affected_codes(coded)
    # replaced ids' CURRENT buckets (column-pruned id/code scan;
    # bounded collect ≤ 2^n_planes values)
    old = (
        read_nodes(spark, path)
        .join(F.broadcast(coded.select("vec_id")), "vec_id", "semi")
        .select("code")
        .distinct()
    )
    affected = sorted({int(r.code) for r in old.collect()} | set(batch_codes))
    NODES.upsert(spark, path, coded, new_vecs)
    merged = read_nodes(spark, path, codes=affected)
    edges = bucket_edges(merged, k).localCheckpoint()
    write_upsert_partitions(edges, edges_path(path), ["code"])
    # a merged bucket can still produce zero edges (single-member
    # bucket) — its stale edge directory must not survive
    _drop_emptied(spark, edges_path(path), affected, edges)
    NODES.fold(spark, path)
    return affected


def graph_delete(
    spark: SparkSession, path: str, meta: dict, doomed: DataFrame
) -> list[int]:
    """Remove a vector batch from the persisted graph (the take-down
    path): the doomed ids' buckets are recomputed from their SOURCE
    vectors against the frozen planes (deterministic coding IS the
    lookup — no index scan to find them), then each affected bucket's
    nodes drop the doomed ids and its edges are recomputed from the
    survivors — incident edges disappear AND every survivor that had
    a doomed neighbor gets its next-best neighbor promoted, exactly
    as a full rebuild would. The node rows themselves are tombstoned
    (write ∝ doomed ids — suppressed in the view immediately,
    physically dropped at the next compact); emptied edge directories
    are dropped. Idempotent. ``doomed`` carries (vec_id, embedding).
    Returns affected codes."""
    k = meta["params"]["k"]
    coded = assign_codes(doomed, meta["planes"])
    # the STORED buckets of the doomed ids (the view knows where they
    # actually live — covers a row whose source embedding has drifted
    # since ingest), plus the deterministic coding of the given
    # vectors; bounded collect ≤ 2^n_planes values
    stored = (
        read_nodes(spark, path)
        .join(F.broadcast(coded.select("vec_id")), "vec_id", "semi")
        .select("code")
        .distinct()
    )
    affected = sorted(
        {int(r.code) for r in stored.collect()} | set(_affected_codes(coded))
    )
    NODES.delete(spark, path, coded)
    keep = read_nodes(spark, path, codes=affected)
    edges = bucket_edges(keep, k).localCheckpoint()
    write_upsert_partitions(edges, edges_path(path), ["code"])
    _drop_emptied(spark, edges_path(path), affected, edges)
    NODES.fold(spark, path)
    return affected


def entry_frontier(emb: DataFrame, queries: DataFrame, entry_n: int) -> DataFrame:
    """The default beam seed (query_id, cand): every query crossed
    with the ``entry_n`` lowest corpus ids — deterministic entry
    nodes, Q×entry_n rows."""
    return queries.select(F.col("vec_id").alias("query_id")).crossJoin(
        emb.filter(F.col("vec_id") < entry_n).select(F.col("vec_id").alias("cand"))
    )


def beam_walk(
    edges: DataFrame,
    emb: DataFrame,
    queries: DataFrame,
    frontier: DataFrame,
    k: int,
    beam: int,
    rounds: int,
) -> DataFrame:
    """The graph-ANN beam walk, (query_id, match_id, sim, rank): from
    the seed ``frontier`` (query_id, cand), ``rounds`` times expand
    frontier ∪ graph-neighbours(frontier) over ``edges`` (src_id,
    dst_id), score every candidate by exact cosine against its query
    (``queries`` and ``emb`` are (vec_id, embedding) frames) and keep
    the top-``beam`` per query; the top-``k`` of the last scored set
    is the answer. The one beam-round loop of the package: the
    served walk (:func:`served_beam_topk`) runs it over the persisted
    edge table, ``ann_graph_beam_topk`` over its in-query kNN graph.

    Plan shape per round: the frontier is Q×beam rows, broadcast on
    the score join (the corpus is filter-joined by broadcast candidate
    ids, never shuffled). The frontier is read twice by the next round
    (union left + edge-join right), so its lineage is cut per round to
    keep the plan constant-size instead of doubling per round."""
    from lol_data_pipeline_spark.caching import tracked_persist, truncate_lineage

    edges = tracked_persist(edges.select("src_id", "dst_id"))
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    corpus = emb.select(
        F.col("vec_id").alias("cand"), F.col("embedding").alias("cvec")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("cand").asc()
    )
    frontier = frontier.select("query_id", "cand")
    scored = None
    for _r in range(rounds):
        expanded = frontier.unionByName(
            frontier.join(edges, frontier.cand == edges.src_id).select(
                "query_id", F.col("dst_id").alias("cand")
            )
        ).distinct()
        scored = (
            corpus.join(F.broadcast(expanded), "cand")
            .join(F.broadcast(q), "query_id")
            .filter(F.col("cand") != F.col("query_id"))
            .select(
                "query_id",
                "cand",
                F.round(cosine(F.col("qvec"), F.col("cvec")), 6).alias("sim"),
            )
        )
        frontier = truncate_lineage(
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= beam)
            .select("query_id", "cand")
        )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("cand").alias("match_id"), "sim", "rank")
    )


def served_beam_topk(
    spark: SparkSession,
    sf_dir: str,
    queries: DataFrame,
    k: int = 5,
    beam: int = 8,
    rounds: int = 3,
    entry_n: int = 4,
    index_root: str | None = None,
    entries: DataFrame | None = None,
) -> DataFrame:
    """Serve graph-ANN top-k from the PERSISTED edge table: ensure
    the index, scan its edges, seed the frontier and run
    :func:`beam_walk` — the walk is the ONLY per-query cost, the
    Σ bucket² build is amortized into ensure_knn_graph_index. The
    seed is ``entries`` (query_id, cand) when given — PER-QUERY entry
    points, e.g. routed by another index (the IVF-routes/graph-walks
    hybrid), bounded by the caller's contract like the query set —
    and otherwise :func:`entry_frontier`'s ``entry_n`` lowest ids.
    Output schema and values are identical to the in-query
    ann_graph_beam_topk (same kernel, equal edges), which is why the
    served entry shares its oracle."""
    path, _meta = ensure_knn_graph_index(spark, sf_dir, root=index_root)
    emb = load_table(spark, sf_dir, "embeddings")
    if entries is None:
        entries = entry_frontier(emb, queries, entry_n)
    return beam_walk(
        read_edges(spark, path), emb, queries, entries, k, beam, rounds
    )
