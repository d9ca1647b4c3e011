"""K-means (Lloyd) over embedding columns — deterministic and
engine-portable, for semantic clustering / cluster-based dedup of
training corpora.

Two design choices make a floating-point iterative algorithm
oracle-checkable across engines:

1. **Deterministic seeding**: initial centroids are the embeddings of
   the k lowest vector ids (k-means++ is the production note; a
   seeded choice is required for any reproducible pipeline run).
2. **Fixed-point centroid accumulation**: the per-dimension mean is
   computed as ``sum(floor(x_d · 2^20)) / n / 2^20``. Summing BIGINTs
   is exact and ORDER-INDEPENDENT — unlike a double sum, whose value
   depends on row order and partitioning — so recomputed centroids
   are bit-identical on 1 executor or 1000, and in DuckDB. (The same
   quantize→integer-sum→rescale trick makes distributed gradient
   all-reduce reproducible.) At 2^-20 granularity the quantization
   error per dimension is < 1e-6 — far below embedding noise.

Scale notes (100 TB):
- centroids are a k×dim CONSTANT: each iteration collects k rows to
  the driver (the canonical broadcast-iterate pattern — constant
  traffic at any corpus scale) and assignment becomes a PURE
  PROJECTION: ``least()`` over k (distance, cid) literal structs,
  folded JVM-side. No join, no shuffle — the corpus is scanned, never
  moved.
- |x|² is hoisted into one column, so per-row cost is k dot folds +
  one least(), all inside whole-stage codegen.
- update: one hash-aggregate on cluster id (k groups): the dim
  per-dimension integer sums ride a single codegen aggregate with
  map-side partials (same pattern as the SimHash 64-bit vote
  aggregate). Lineage stays one-iteration deep because each round's
  centroids are materialized driver-side.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lol_data_pipeline_spark.operators.similarity import dot

_SCALE = 1 << 20


def _cc(vec: list[float]) -> float:
    """|c|² with the same left-to-right sequential fold order as the
    engines' dot folds (sum order matters for bit-equality)."""
    acc = 0.0
    for v in vec:
        acc = acc + v * v
    return acc


def _assign_expr(vec_col, xx_col, cents: list[tuple[int, list[float]]]):
    """argmin_c ( |x|² − 2·x·c + |c|² ) as one least() over k literal
    structs — struct comparison is lexicographic (distance, then
    centroid id), giving a deterministic tie-break. Each centroid is
    ONE array Literal (``F.lit(list)``), not a 64-node CreateArray —
    same values, ~64× smaller expression tree, which roughly halves
    the per-round Catalyst analyze+codegen cost that dominates
    iterative training on small data (measured 2.36 → 1.16 s per
    assignment round at k=8, dim=64). The r15 A/B additionally tried
    array_min(transform(<one codebook literal>)) here — REVERTED:
    ArrayTransform/ArrayMin are CodegenFallback, so the corpus-sized
    assignment projection fell out of whole-stage codegen and the
    IVF/kmeans-family entries lost 0.4-1.3 s each (the losing-A/B log
    in OPTIMIZATION_r15.md)."""
    candidates = [
        F.struct(
            (
                xx_col
                - 2 * dot(vec_col, F.lit([float(v) for v in cvec]))
                + F.lit(_cc(cvec))
            ).alias("d2"),
            F.lit(cid).alias("cid"),
        )
        for cid, cvec in cents
    ]
    # F.least requires >= 2 args; a codebook can legitimately shrink
    # to one centroid (every assignment tied to it — e.g. duplicate
    # seed vectors), and the single survivor is then everyone's cell.
    if len(candidates) == 1:
        return candidates[0]["cid"]
    return F.least(*candidates)["cid"]


def kmeans_train(
    emb: DataFrame,
    k: int = 8,
    rounds: int = 1,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Trained centroids after ``rounds`` Lloyd UPDATE rounds from the
    deterministic lowest-id seed, as (cluster_id, vector) literals —
    the broadcast-iterate pattern: each round collects k rows to the
    driver (constant traffic at any corpus scale) and the next
    assignment is a pure projection. The fixed-point integer centroid
    sums make the result bit-identical across engines and partition
    orders, so a DuckDB oracle reproduces the exact codebook. A
    cluster that loses all members drops out (same as the oracle's
    group-by). This is the training stage consumed by both
    :func:`kmeans_assign` and the kmeans-trained IVF index build
    (plans/round9.py)."""
    seed_rows = (
        emb.orderBy(id_col).limit(k).select(F.col(vec_col).cast("array<double>").alias("c")).collect()
    )
    cents = [(i, [float(v) for v in r.c]) for i, r in enumerate(seed_rows)]

    x = F.col(vec_col).cast("array<double>")
    base = emb.select(F.col(id_col), F.col(vec_col), dot(x, x).alias("xx"))

    for _ in range(rounds):
        assigned = base.select(
            id_col,
            vec_col,
            _assign_expr(x, F.col("xx"), cents).alias("cluster"),
        )
        # Centroid update via posexplode → (cluster, pos) hash
        # aggregate: k·dim groups, map-side partials, and a TINY
        # expression tree — measured 2× faster end-to-end than the
        # dim-wide column aggregate it replaces (the wide variant's
        # per-round Catalyst analyze+codegen of 64 sum columns
        # dominated training on small data; the integer sums are
        # bit-identical either way). The 64× row amplification is
        # scan-side and collapses immediately into 512 partial
        # groups — at 100 TB the shuffle is still k·dim rows.
        q = F.transform(
            F.col(vec_col).cast("array<double>"),
            lambda v: F.floor(v * F.lit(float(_SCALE))).cast("long"),
        )
        rows = (
            assigned.select("cluster", F.posexplode(q).alias("pos", "qv"))
            .groupBy("cluster", "pos")
            .agg(F.sum("qv").alias("sv"), F.count("*").alias("n"))
            .collect()
        )
        bycl: dict[int, dict[int, tuple[int, int]]] = {}
        for r in rows:
            bycl.setdefault(int(r.cluster), {})[int(r.pos)] = (int(r.sv), int(r.n))
        cents = sorted(
            (c, [bycl[c][p][0] / bycl[c][p][1] / _SCALE for p in range(dim)])
            for c in bycl
        )
    return cents


def kmeans_assign(
    emb: DataFrame,
    k: int = 8,
    iters: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cluster assignment after ``iters`` Lloyd rounds from the
    deterministic seed (``iters - 1`` centroid updates + one final
    assignment). Returns (id, cluster)."""
    cents = kmeans_train(emb, k, iters - 1, dim, id_col, vec_col)
    x = F.col(vec_col).cast("array<double>")
    base = emb.select(F.col(id_col), F.col(vec_col), dot(x, x).alias("xx"))
    return base.select(
        id_col, _assign_expr(x, F.col("xx"), cents).cast("long").alias("cluster")
    )


def kmeans_cells(
    emb: DataFrame,
    k: int = 8,
    rounds: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cents: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """IVF cell assignment against a kmeans-TRAINED codebook — the
    index-build stage of the trained-IVF ANN entries
    (plans/round9.py), closing the gap the seeded IVF documents
    (similarity.py: "production would k-means them"): train
    ``rounds`` Lloyd updates, then assign every vector to its
    argmin-(d², cid) trained centroid. Returns (id, vec, cell_id).
    Assignment is a pure projection against literal centroids — no
    join, no shuffle; training's per-round cost is one codegen
    aggregate + a k-row collect. A caller that also needs the
    centroids themselves (e.g. for query probe routing) passes its
    own ``cents`` so training runs once."""
    if cents is None:
        cents = kmeans_train(emb, k, rounds, dim, id_col, vec_col)
    x = F.col(vec_col).cast("array<double>")
    base = emb.select(F.col(id_col), F.col(vec_col), dot(x, x).alias("xx"))
    return base.select(
        id_col,
        vec_col,
        _assign_expr(x, F.col("xx"), cents).cast("long").alias("cell_id"),
    )


def kmeans_summary(
    emb: DataFrame, k: int = 8, iters: int = 2, dim: int = 64
) -> DataFrame:
    """Per-cluster summary of the final assignment: size and min id
    (the deterministic cluster representative)."""
    a = kmeans_assign(emb, k, iters, dim)
    return a.groupBy("cluster").agg(
        F.count("*").cast("long").alias("n_members"),
        F.min("vec_id").alias("rep_id"),
    )


def label_centroids(
    emb, dim: int = 64, scale: int = 1 << 20, label_col: str = "label", vec_col: str = "embedding"
):
    """Per-label mean embedding with FIXED-POINT integer accumulation
    (floor(v·scale) summed as longs, divided back at the end — the
    same trick as the k-means update above): integer partial sums
    merge associatively and bit-identically on ANY partitioning or
    engine, where a double sum's last ulp depends on reduction
    order. Null or ragged vectors are excluded up front (element_at
    would null-skip them inside the sums while count(*) still
    counted them, silently deflating every component). ONE hash
    aggregate, O(labels × dim) state. This is the single
    implementation the registry entry, the oracle comparison, and
    the repartition-invariance test all run.

    Each aggregate/projection parses from ONE SQL string: building
    per-dimension expressions op-by-op with Column methods costs
    several py4j round-trips per operator and plan BUILD dominated
    the measured wall clock (see PERF_NOTES, round 5)."""
    emb = emb.filter(F.col(vec_col).isNotNull() & (F.size(vec_col) == dim))
    sums = emb.groupBy(label_col).agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("n"),
        *[
            F.expr(
                f"sum(CAST(floor(CAST(element_at({vec_col}, {d + 1}) AS DOUBLE)"
                f" * {scale}.0) AS BIGINT))"
            ).alias(f"s{d}")
            for d in range(dim)
        ],
    )
    cent = ", ".join(
        f"CAST(floor(CAST(s{d} AS DOUBLE) / n / CAST({scale} AS DOUBLE) * 1000000 + 0.5) AS BIGINT) / CAST(1000000 AS DOUBLE)" for d in range(dim)
    )
    return sums.select(label_col, "n", F.expr(f"array({cent})").alias("centroid"))


def power_iteration(
    emb: DataFrame,
    rounds: int = 3,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[float]:
    """Top principal DIRECTION of the (uncentered) embedding Gram
    matrix via power iteration — the spectral member of the embedding
    analytics family (k-means quantizes, random projection sketches,
    this finds the dominant axis). The same broadcast-iterate /
    fixed-point recipe as :func:`kmeans_train`:

    per round, with the current direction v as a LITERAL:
      s_i  = x_i · v                       (sequential zip_with fold)
      T_j  = Σ_i floor(x_ij · s_i · 2^20)  (BIGINT — order-independent,
                                            bit-identical on any
                                            partitioning or engine)
      w_j  = T_j / 2^20;  v' = w / ‖w‖     (‖w‖ via the sequential
                                            |·|² fold, driver-side)

    so each round is ONE codegen aggregate whose shuffle is dim
    partial rows regardless of corpus size plus a dim-row collect.
    Deterministic start: v₀ = the vec_id-0 embedding (sign ambiguity
    of the eigenvector is thereby fixed). Returns the final unit
    direction as plain floats; a DuckDB oracle reproduces every round
    (plans/round10.py)."""
    x = F.col(vec_col).cast("array<double>")
    v = [
        float(c)
        for c in emb.filter(F.col(id_col) == 0)
        .select(x.alias("x"))
        .collect()[0]
        .x
    ]
    for _ in range(rounds):
        w = _gv_round(emb, v, dim, vec_col)
        nrm = math.sqrt(_cc(w))  # correctly rounded, as the oracle's sqrt
        v = [wj / nrm for wj in w]
    return v


def _gv_round(
    emb: DataFrame, v: list[float], dim: int, vec_col: str = "embedding"
) -> list[float]:
    """One G·v product as the fixed-point aggregate power_iteration
    documents: s_i = x_i·v (sequential fold), T_j = Σ floor(x_ij·s_i·
    2^20) as BIGINT (order-independent, engine/partitioning-proof),
    w_j = T_j/2^20 — ONE codegen aggregate whose shuffle is dim
    partial rows at any corpus size, plus a dim-row collect."""
    x = F.col(vec_col).cast("array<double>")
    s = dot(x, F.lit(v))
    q = F.transform(
        x, lambda xv: F.floor(xv * s * F.lit(float(_SCALE))).cast("long")
    )
    rows = (
        emb.select(F.posexplode(q).alias("pos", "t"))
        .groupBy("pos")
        .agg(F.sum("t").alias("sv"))
        .collect()
    )
    by_pos = {int(r.pos): int(r.sv) for r in rows}
    return [by_pos[p] / _SCALE for p in range(dim)]


def _ip(a: list[float], b: list[float]) -> float:
    """Driver-side dot with the engines' left-to-right fold order
    (the _cc rule, two-vector form) — deflation projections must be
    bit-equal to the oracle's list_inner_product."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def power_topr(
    emb: DataFrame,
    r: int = 2,
    rounds: int = 3,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Top-r principal DIRECTIONS via power iteration with hotelling
    DEFLATION: direction d starts from the vec_id-d embedding (sign
    fix) and every round subtracts each CONVERGED earlier direction's
    projection from the G·v product (w ← w − (w·u)u) before
    normalizing — classical deflation against final eigvectors, so
    direction d converges inside span{v₀..v_{d−1}}⊥. Per round the
    distributed work is the same single dim-row aggregate as
    :func:`power_iteration`; deflation is driver-side arithmetic on
    dim-sized vectors with the engines' sequential fold order (the
    DuckDB oracle in plans/round11.py unrolls every round and
    subtraction identically — intermediate vectors are bit-equal, the
    invariant each round's floor(x·s·2^20) depends on). Returns r
    unit directions."""
    x = F.col(vec_col).cast("array<double>")
    dirs: list[list[float]] = []
    for d in range(r):
        v = [
            float(c)
            for c in emb.filter(F.col(id_col) == d)
            .select(x.alias("x"))
            .collect()[0]
            .x
        ]
        for _ in range(rounds):
            w = _gv_round(emb, v, dim, vec_col)
            for u in dirs:
                du = _ip(w, u)
                w = [w[i] - du * u[i] for i in range(dim)]
            nrm = math.sqrt(_cc(w))
            v = [wj / nrm for wj in w]
        dirs.append(v)
    return dirs


def ensure_power_dirs(
    spark,
    sf_dir: str,
    r: int = 2,
    rounds: int = 3,
    dim: int = 64,
    root: str | None = None,
) -> list[list[float]]:
    """Build-if-absent-or-stale spectral-direction artifact: the
    top-r deflated power-iteration directions persisted as a
    fingerprinted JSON sidecar (dim-sized floats — driver-literal
    scale, like the BPE vocabulary). The training scans (r·rounds
    corpus aggregates) amortize across every query that projects with
    the directions; staleness (corpus or params change) rebuilds.
    JSON round-trips IEEE doubles exactly (repr/float), so the served
    directions are bit-equal to a fresh power_topr run — the
    emb_power_topr oracle parity is the standing proof."""
    from lol_data_pipeline_spark.io import load_table
    from lol_data_pipeline_spark.operators import artifact

    params = {"r": r, "rounds": rounds, "dim": dim}

    def build(path: str) -> dict:
        dirs = power_topr(
            load_table(spark, sf_dir, "embeddings"), r=r, rounds=rounds, dim=dim
        )
        return artifact.save_meta(path, "dirs", {
            "fingerprint": artifact.source_fingerprint(sf_dir, "embeddings"),
            "params": params,
            "dirs": dirs,
        })

    _path, meta = artifact.ensure("dirs", sf_dir, "embeddings", params, build, root)
    return [[float(x) for x in v] for v in meta["dirs"]]
