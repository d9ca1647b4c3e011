"""Connected components over near-duplicate pair graphs.

A dedup pipeline's last step: pair lists (from MinHash/SimHash/
Jaccard) are EDGES; the duplicate GROUPS are the connected
components, and the canonical document per group is its minimum id.
Pairwise output alone under-deletes (A~B, B~C but A~C unreported —
keeping A and C) — grouping must close over transitive chains.

Algorithm: synchronous min-label propagation. Every vertex starts
labeled with its own id; each round every vertex takes the min of
its label and its neighbors' labels. After k rounds every vertex
within graph distance k of its component's minimum carries that
minimum. Near-dup components are dense (duplicate groups are
near-cliques, diameter 1-2), so a small fixed k converges; a fixed
k also makes the operator DETERMINISTIC and lets the DuckDB oracle
unroll the same k rounds symbolically.

Scale notes (100 TB):
- one neighbourhood edge list, built from a single reference to the
  pair list: each pair explodes to (a,b), (b,a), (a,a), (b,b). The
  self-loops fold "min of own label and neighbours' labels" into
  one min-aggregate, so round r reads round r-1's labels exactly
  ONCE (hood ⋈ labels on src, then min per dst; round 1 needs no
  join because label_0(u) = u). Label propagation is how GraphX/
  Pregel implement CC; this is the same dataflow as DataFrame ops.
- the k rounds fuse into one lazy plan of depth linear in k: no
  checkpoint or collect per round, so building the operator starts
  no Spark job. The edge list is persisted (lazily — the first round
  fills the cache) so every round reads it instead of re-running the
  pair pipeline. Reading the labels twice per round (say, a join
  plus a least(label, nbr_min) left join) would double the plan tree
  every round, O(2^k), and force a checkpoint per round.
- pure integer arithmetic end-to-end — engine-portable, no float
  drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lol_data_pipeline_spark.caching import tracked_persist, truncate_lineage


def connected_components(
    pairs: DataFrame, iters: int = 4, a_col: str = "id_a", b_col: str = "id_b"
) -> DataFrame:
    """(vertex, component) for every vertex in ``pairs``, where
    component = min vertex id reachable within ``iters`` hops (= the
    true component minimum once iters ≥ component diameter). Exactly
    ``iters`` rounds run — no early exit — matching the oracle's
    unroll; ``iters`` ≤ 0 gives identity labels."""
    a, b = F.col(a_col), F.col(b_col)
    hood = tracked_persist(
        pairs.select(
            F.inline(
                F.array(
                    *(
                        F.struct(s.alias("src"), d.alias("dst"))
                        for s, d in ((a, b), (b, a), (a, a), (b, b))
                    )
                )
            )
        )
    )
    if iters <= 0:
        labels = hood.select("dst", F.col("dst").alias("label")).distinct()
    else:
        labels = hood.groupBy("dst").agg(F.min("src").alias("label"))
    for _ in range(iters - 1):
        labels = (
            hood.join(labels.withColumnRenamed("dst", "src"), "src")
            .groupBy("dst")
            .agg(F.min("label").alias("label"))
        )
    # persisted too: consumers join the labels back to their own
    # aggregates (group sizes, representatives), and an uncached
    # second reference would re-run all k rounds
    return tracked_persist(
        labels.select(F.col("dst").alias("doc_id"), F.col("label").alias("component"))
    )


def dedup_groups(pairs: DataFrame, iters: int = 4) -> DataFrame:
    """Components + the keep/drop verdict: one row per duplicate-group
    member, its canonical (minimum-id) representative, and group
    size — the actionable dedup output."""
    cc = connected_components(pairs, iters)
    sizes = cc.groupBy("component").agg(F.count("*").cast("long").alias("group_size"))
    return (
        cc.join(F.broadcast(sizes), "component")
        .select(
            "doc_id",
            F.col("component").alias("keep_id"),
            "group_size",
            (F.col("doc_id") != F.col("component")).alias("drop"),
        )
    )


_PR_SCALE = 1 << 20
_PR_DAMP_PM = 850  # damping 0.85 in per-mille


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
    w_col: str = "w",
) -> DataFrame:
    """Weighted PageRank with FIXED-POINT integer arithmetic.

    Ranks live in 2^20-unit micro-ranks; each round is
        r'_v = (0.15·S)//N + Σ_u (r_u·w_uv·850)//(out_u·1000)
    — every operation is exact integer math, so partition-order
    float drift cannot exist and a DuckDB oracle can unroll the
    same ``iters`` rounds symbolically (the same trick as
    clustering.kmeans_assign's centroid accumulation). Quantization
    error is ≤ degree/2^20 per node per round — bounded and
    engine-identical.

    Caller contract: ``edges`` contains BOTH directions of every
    undirected relation (or every node has ≥1 out-edge), so there is
    no dangling-mass term. Products stay < 2^63: r ≤ S·N_eff,
    w·850·r bounded by 2^20·10^6·850 ≈ 2^50 for million-edge nodes.

    Scale shape: per round ONE shuffle join (edges ⋈ ranks on src,
    both sides hash-partitioned on the same key — Catalyst reuses
    the edge side's partitioning across rounds since the table is
    persisted) + one map-side-combined sum aggregate. This is the
    GraphX/Pregel dataflow as DataFrame ops.
    """
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst"), F.col(w_col).alias("w")
    )
    outw = e.groupBy("src").agg(F.sum("w").alias("out_w"))
    e2 = tracked_persist(e.join(outw, "src"))
    nodes = e2.select(F.col("src").alias("v")).distinct()
    ncnt = nodes.agg(F.count("*").alias("n"))
    # (v, n) — n rides along so the teleport term stays a column
    # expression (no driver-side collect of the node count).
    base = tracked_persist(nodes.crossJoin(F.broadcast(ncnt)))
    ranks = base.select("v", "n", F.expr(f"CAST({_PR_SCALE} DIV n AS BIGINT)").alias("r"))
    for _ in range(iters):
        contrib = (
            e2.join(ranks.select(F.col("v").alias("src"), "r"), "src")
            .groupBy("dst")
            .agg(
                F.sum(
                    F.expr(f"(r * w * {_PR_DAMP_PM}) DIV (out_w * 1000)")
                ).alias("s")
            )
        )
        # lineage truncation per round: each round's plan embeds the
        # previous one and the tree re-stringification blows small
        # driver heaps; persist alone does not shrink the plan
        ranks = base.join(contrib, base.v == contrib.dst, "left").select(
            "v",
            "n",
            F.expr(
                f"CAST((150 * {_PR_SCALE}) DIV (1000 * n) + coalesce(s, 0) AS BIGINT)"
            ).alias("r"),
        )
        ranks = truncate_lineage(ranks)
    return ranks.select(
        F.col("v").alias("node"),
        F.col("r").alias("rank_micro"),
        F.round(F.col("r") / float(_PR_SCALE), 6).alias("rank"),
    )
