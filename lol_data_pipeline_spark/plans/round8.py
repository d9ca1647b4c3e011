"""Round-8 additions: multi-probe filtered IVF vector search.

Scale notes (100 TB):
- multi-probe filtered IVF scans ~nprobe/C of the corpus per query
  (C = centroid count) instead of the full corpus: the candidate set
  is the union of the query's nprobe nearest cells, the metadata
  predicate prunes inside those cells at the parquet scan, and the
  exact cosine rescore runs only on the bounded remainder. Queries
  broadcast; the corpus is never shuffled by value — the only
  data-sized movement is the one-off cell assignment, which an index
  build amortizes across every query that ever probes it.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from lol_data_pipeline_spark.plans.curation import _FILT_K, _FILT_LABEL, _FILT_NQ
from lol_data_pipeline_spark.plans.queries import T, query

_NPROBE = 3
_IVF_CELLS = 8

# ---------------------------------------------------------------------------
# Multi-probe filtered IVF: the production escalation the single-probe
# entry (ann_filtered_ivf_topk, plans/curation.py) documents but does
# not implement. An IVF index is built ONCE on the full corpus while
# predicates vary per query, so one probed cell can be poor in the
# filtered label and return fewer than k rows; probing the nprobe
# nearest cells recovers candidates at ~nprobe x the single-cell scan.
# Ground truth is ann_filtered_topk (exact pre-filter); the recall
# test asserts multi-probe >= single-probe per query.
# ---------------------------------------------------------------------------


def _sql_filtered_ivf_multiprobe() -> str:
    from lol_data_pipeline_spark.plans.extensions import SQL_COS

    return f"""
    WITH cent AS (
      SELECT vec_id AS cell_id, embedding AS centvec
      FROM embeddings WHERE vec_id < {_IVF_CELLS}
    ),
    assigned AS (
      SELECT vec_id, embedding, cell_id,
             row_number() OVER (PARTITION BY vec_id
               ORDER BY {SQL_COS.format(a='embedding', b='centvec')} DESC,
                        cell_id) AS rn
      FROM embeddings CROSS JOIN cent
    ),
    cells AS (SELECT vec_id, embedding, cell_id FROM assigned WHERE rn = 1),
    qprobe AS (
      SELECT vec_id AS query_id, embedding AS qvec, cell_id AS pcell,
             rn AS probe_rank
      FROM assigned WHERE vec_id < {_FILT_NQ} AND rn <= {_NPROBE}
    ),
    scored AS (
      SELECT q.query_id, c.vec_id AS match_id, e.label,
             CAST(min(q.probe_rank) AS BIGINT) AS probe_rank,
             {SQL_COS.format(a='q.qvec', b='c.embedding')} AS sim
      FROM qprobe q
      JOIN cells c ON c.cell_id = q.pcell AND c.vec_id <> q.query_id
      JOIN embeddings e ON e.vec_id = c.vec_id AND e.label = {_FILT_LABEL}
      GROUP BY q.query_id, c.vec_id, e.label,
               {SQL_COS.format(a='q.qvec', b='c.embedding')}
    ),
    ranked AS (
      SELECT query_id, match_id, label, probe_rank, sim,
             CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY sim DESC, match_id
             ) AS BIGINT) AS rank
      FROM scored
    )
    SELECT query_id, match_id, label, probe_rank, sim, rank
    FROM ranked WHERE rank <= {_FILT_K}
    """


@query("ann_filtered_ivf_multiprobe", sql=_sql_filtered_ivf_multiprobe())
def ann_filtered_ivf_multiprobe(spark, sf_dir):
    """Filtered ANN, scale path with MULTI-PROBE escalation: score
    candidates in the query's {nprobe} nearest IVF cells (not just
    the nearest one), keep those matching the metadata predicate
    (label = {label}), exact-rescore, top-{k}. Each corpus vector
    lives in exactly one cell, so the probed union is duplicate-free
    by construction; ``probe_rank`` reports which probe found each
    match (1 = the single-probe cell), making the recall recovered
    by probes 2..n directly observable in the output.

    This is the production fix for filtered-ANN recall loss flagged
    in ann_filtered_ivf_topk's docstring (plans/curation.py): the
    index is built once on the full corpus, predicates vary per
    query, and a label-poor nearest cell starves the candidate set —
    the next-nearest cells recover it for ~nprobe x the single-cell
    scan cost, still ~nprobe/C of the corpus. Plan shape: C centroid
    rows broadcast for assignment; Q x nprobe probe rows broadcast to
    the candidate join; the corpus is scanned once, filtered at the
    scan by the predicate, and never shuffled by value. A per-query
    min(probe_rank) group handles the (impossible here, possible
    with overlapping probe lists) duplicate-candidate case the same
    way the oracle does, keeping both sides' semantics pinned."""
    from pyspark.sql import Window

    from lol_data_pipeline_spark.operators import similarity as sim

    emb = T(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < _IVF_CELLS)
    cells = sim.assign_ivf_cells(emb, centroids)
    qprobe = sim.probe_cells(
        emb.filter(F.col("vec_id") < _FILT_NQ), centroids, nprobe=_NPROBE
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        F.col("cell_id").alias("pcell"),
        "probe_rank",
    )
    cand = cells.join(
        emb.filter(F.col("label") == _FILT_LABEL).select("vec_id", "label"),
        "vec_id",
    )
    scored = (
        cand.join(
            F.broadcast(qprobe),
            (F.col("cell_id") == F.col("pcell"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("match_id"),
            "label",
            "probe_rank",
            F.round(sim.cosine(F.col("qvec"), F.col("embedding")), 6).alias("sim"),
        )
        .groupBy("query_id", "match_id", "label", "sim")
        .agg(F.min("probe_rank").cast("long").alias("probe_rank"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("match_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= _FILT_K)
        .select("query_id", "match_id", "label", "probe_rank", "sim", "rank")
    )
