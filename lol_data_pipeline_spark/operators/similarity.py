"""Embedding similarity search: brute-force cosine top-k and an
IVF-bucketed approximate variant.

Vectors are ``array<float>`` columns. The dot product / norm are
native higher-order functions (`zip_with` + `aggregate`) — JVM-side,
no Python. Similarities are rounded to 6 dp before ranking so the
oracle (which sums in a different order) ranks identically; ties
break on vec_id.

Scale notes (100 TB):
- brute force is O(Q × N) — fine when Q (queries) is small enough to
  broadcast, which is the layout here: corpus stays partitioned,
  queries broadcast, no shuffle of the corpus at all; the final
  top-k per query is a tiny shuffle of Q × k rows.
- IVF: corpus is bucketed by nearest centroid once (a broadcast join
  against C centroids); a query probes only its centroid's bucket,
  cutting scanned rows by ~C×. Centroids here are deterministic seed
  vectors (first C by id) so the oracle can reproduce assignment;
  the kmeans-TRAINED codebook variant is
  operators/clustering.py:kmeans_cells + plans/round9.py
  (ann_ivf_kmeans_topk) — the fixed-point Lloyd training keeps even
  the trained codebook oracle-reproducible.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from lol_data_pipeline_spark.io import widen


def dot(a: Column, b: Column) -> Column:
    # cast to double BEFORE multiplying: the oracle (DuckDB) computes
    # double products over CAST(... AS DOUBLE[]), and the sequential
    # fold order is identical, so results are bit-equal — float32
    # products would differ in the low bits and could flip signs/ties.
    return F.aggregate(
        F.zip_with(
            a.cast("array<double>"), b.cast("array<double>"), lambda x, y: x * y
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a.cast("array<double>"), F.lit(0.0), lambda acc, x: acc + x * x)
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def with_norm(df: DataFrame, vec_col: str, out_col: str = "nrm") -> DataFrame:
    """Attach the L2 norm as a materialized column so pairwise joins
    compute cosine as dot/(nrm_a*nrm_b) — the two norm folds move
    from O(N²) pair evaluations to O(N) row evaluations. The dot is
    still the sequential zip_with fold, so results stay bit-identical
    to the naive cosine() (same op order)."""
    return df.withColumn(out_col, norm(F.col(vec_col)))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine for each query over the corpus.

    Broadcast the (small) query set against the partitioned corpus;
    rank per query with a window. Self-matches excluded.
    """
    # norms hoisted to one fold per ROW (r15, the with_norm /
    # dedup_embedding_cosine precedent): cosine() inside the Q×N pair
    # projection recomputed BOTH interpreted norm folds per pair —
    # 2·dim·Q·N lambda steps that dominate the brute-force scan.
    # dot/(qn·cn) keeps cosine()'s exact op order, so sims are
    # bit-identical.
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    ).withColumn("qn", norm(F.col("qvec")))
    c = with_norm(
        widen(corpus).select(
            F.col(id_col).alias("match_id"), F.col(vec_col).alias("cvec")
        ),
        "cvec",
        "cn",
    )
    scored = c.join(F.broadcast(q), F.col("match_id") != F.col("query_id")).select(
        "query_id",
        "match_id",
        F.round(
            dot(F.col("qvec"), F.col("cvec")) / (F.col("qn") * F.col("cn")), 6
        ).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("match_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "match_id", "sim", "rank")
    )


def assign_ivf_cells(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every corpus vector to its nearest centroid (max
    rounded cosine, centroid-id tiebreak). Broadcast-join + window —
    the corpus itself is never shuffled by value."""
    cent = centroids.select(
        F.col(id_col).alias("cell_id"), F.col(vec_col).alias("centvec")
    ).withColumn("cnrm", norm(F.col("centvec")))
    # norms hoisted to one fold per row (r15): the N×C assignment
    # recomputed both norm folds per pair; dot/(nrm·cnrm) keeps
    # cosine()'s op order — bit-identical csim.
    scored = with_norm(widen(corpus), vec_col).crossJoin(F.broadcast(cent)).select(
        F.col(id_col),
        F.col(vec_col),
        F.col("cell_id"),
        F.round(
            dot(F.col(vec_col), F.col("centvec"))
            / (F.col("nrm") * F.col("cnrm")),
            6,
        ).alias("csim"),
    )
    w = Window.partitionBy(id_col).orderBy(F.col("csim").desc(), F.col("cell_id").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(id_col, vec_col, "cell_id")
    )


def probe_cells(
    queries: DataFrame,
    centroids: DataFrame,
    nprobe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-probe cell selection: each query's ``nprobe`` NEAREST
    centroids (max rounded cosine, centroid-id tiebreak — the same
    ordering assign_ivf_cells uses, so probe 1 is always the cell the
    single-probe strategy scans). Returns one row per (query, probed
    cell): ``(id_col, vec_col, cell_id, probe_rank)``.

    This is the production answer to filtered-ANN recall loss: an IVF
    index is built once on the full corpus while predicates vary per
    query, so a probed cell can be poor in the filtered label —
    probing the next-nearest cells recovers candidates at ~nprobe x
    the single-cell scan cost, still bounded far below the full
    corpus. Queries are small by contract (they broadcast); the
    per-query window here ranks C centroid rows per query, never
    corpus rows."""
    cent = centroids.select(
        F.col(id_col).alias("cell_id"), F.col(vec_col).alias("centvec")
    ).withColumn("cnrm", norm(F.col("centvec")))
    # same per-row norm hoist as assign_ivf_cells (bit-identical)
    scored = with_norm(widen(queries), vec_col).crossJoin(F.broadcast(cent)).select(
        F.col(id_col),
        F.col(vec_col),
        F.col("cell_id"),
        F.round(
            dot(F.col(vec_col), F.col("centvec"))
            / (F.col("nrm") * F.col("cnrm")),
            6,
        ).alias("csim"),
    )
    w = Window.partitionBy(id_col).orderBy(F.col("csim").desc(), F.col("cell_id").asc())
    return (
        scored.withColumn("probe_rank", F.row_number().over(w))
        .filter(F.col("probe_rank") <= nprobe)
        .select(id_col, vec_col, "cell_id", "probe_rank")
    )


def ivf_topk(
    corpus: DataFrame,
    n_centroids: int = 8,
    k: int = 5,
    n_queries: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: probe only the query's own IVF cell.

    Deterministic setup (oracle-reproducible): centroids are the
    first ``n_centroids`` vectors by id; queries the first
    ``n_queries``.
    """
    centroids = corpus.filter(F.col(id_col) < n_centroids)
    # per-row norm hoist (r15): the probe scored Q × cell-size pairs
    # with cosine() recomputing both norm folds per pair;
    # dot/(qn·nrm) keeps the op order — bit-identical sims.
    cells = with_norm(
        assign_ivf_cells(corpus, centroids, id_col, vec_col), vec_col
    )
    queries = cells.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        F.col("cell_id").alias("qcell"),
        F.col("nrm").alias("qn"),
    )
    scored = cells.join(
        F.broadcast(queries),
        (F.col("cell_id") == F.col("qcell")) & (F.col(id_col) != F.col("query_id")),
    ).select(
        "query_id",
        F.col(id_col).alias("match_id"),
        F.round(
            dot(F.col("qvec"), F.col(vec_col)) / (F.col("qn") * F.col("nrm")), 6
        ).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("match_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "match_id", "sim", "rank")
    )


def _lsh_codes(
    wc: DataFrame, n_planes: int, id_col: str, vec_col: str
) -> DataFrame:
    """(id, code) random-hyperplane sign codes: bit j = sign of the
    dot with plane j (the first ``n_planes`` corpus vectors — 
    deterministic so the DuckDB oracle reproduces the assignment;
    production would draw Gaussian planes). Dots are rounded before
    the sign test so both engines agree at the boundary. Shared by
    lsh_topk and knn_graph — the code-assignment expression exists
    ONCE (the oracles model it a second time; a third drifting copy
    here would silently break parity).

    Scale: a broadcast cross join (n_planes rows) + one groupBy(id)
    — the corpus is never shuffled by value."""
    planes = wc.filter(F.col(id_col) < n_planes).select(
        F.col(id_col).alias("plane_id"), F.col(vec_col).alias("pvec")
    )
    return (
        wc.select(id_col, vec_col)
        .crossJoin(F.broadcast(planes))
        .groupBy(id_col)
        .agg(
            F.sum(
                F.when(
                    F.round(dot(F.col(vec_col), F.col("pvec")), 6) >= 0,
                    F.pow(F.lit(2.0), F.col("plane_id")).cast("long"),
                ).otherwise(F.lit(0).cast("long"))
            ).alias("code")
        )
    )


def lsh_topk(
    corpus: DataFrame,
    n_planes: int = 6,
    k: int = 5,
    n_queries: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k via random-hyperplane LSH bucketing.

    Each vector gets an ``n_planes``-bit code (bit j = sign of the
    dot with plane j); a query only scores vectors sharing its exact
    code, cutting the scan ~2^n_planes× for isotropic data. Planes
    are deterministic (the first ``n_planes`` corpus vectors) so the
    DuckDB oracle reproduces the assignment; production would draw
    Gaussian planes. Dots are rounded before the sign test so both
    engines agree at the boundary.

    Scale: code assignment is a broadcast cross join (n_planes rows)
    + one groupBy(id) — the corpus is never shuffled by value; the
    probe is a broadcast of Q coded queries against the coded corpus.
    """
    wc = widen(corpus)
    # per-row norm hoist (r15) — same rationale and bit-identity as
    # cosine_topk/ivf_topk; knn_graph already carried this shape.
    coded = with_norm(
        wc.join(_lsh_codes(wc, n_planes, id_col, vec_col), id_col), vec_col
    )
    queries = coded.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        F.col("code").alias("qcode"),
        F.col("nrm").alias("qn"),
    )
    scored = coded.join(
        F.broadcast(queries),
        (F.col("code") == F.col("qcode")) & (F.col(id_col) != F.col("query_id")),
    ).select(
        "query_id",
        F.col(id_col).alias("match_id"),
        F.round(
            dot(F.col("qvec"), F.col(vec_col)) / (F.col("qn") * F.col("nrm")), 6
        ).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("match_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "match_id", "sim", "rank")
    )


def bucket_edges(nodes: DataFrame, k: int) -> DataFrame:
    """(code, src_id, dst_id, sim, rank): top-k cosine edges WITHIN
    each bucket of a (vec_id, embedding, code) node set — the one
    kNN edge construction, shared by :func:`knn_graph` and the
    persisted graph index's build and bucket-local maintenance
    (operators/graph_index.py), so they cannot drift. Norms are
    materialized once per row (bit-identical to cosine() — same fold
    order), pairs form only inside a bucket (Σ bucket², never N²),
    and edges rank per source with a keyed window (never a global
    sort)."""
    coded = with_norm(nodes, "embedding")
    left = coded.select(
        F.col("vec_id").alias("src_id"),
        F.col("embedding").alias("svec"),
        F.col("nrm").alias("snrm"),
        "code",
    )
    right = coded.select(
        F.col("vec_id").alias("dst_id"),
        F.col("embedding").alias("dvec"),
        F.col("nrm").alias("dnrm"),
        F.col("code").alias("dcode"),
    )
    scored = left.join(
        right,
        (F.col("code") == F.col("dcode")) & (F.col("src_id") != F.col("dst_id")),
    ).select(
        "code",
        "src_id",
        "dst_id",
        F.round(
            dot(F.col("svec"), F.col("dvec")) / (F.col("snrm") * F.col("dnrm")), 6
        ).alias("sim"),
    )
    w = Window.partitionBy("src_id").orderBy(
        F.col("sim").desc(), F.col("dst_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("code", "src_id", "dst_id", "sim", "rank")
    )


def knn_graph(corpus: DataFrame, n_planes: int = 6, k: int = 3) -> DataFrame:
    """k-NN graph over a (vec_id, embedding) corpus: every vector's
    top-k neighbours among vectors sharing its ``n_planes``-bit LSH
    code, as (src_id, dst_id, sim, rank).

    The graph-construction twin of :func:`lsh_topk` — there the
    query set is small and broadcasts; here EVERY node is a query,
    so candidates come from a bucket SELF-join. The corpus is coded
    (:func:`_lsh_codes`), persisted — it feeds both sides of the
    self-join, and without the persist the plane cross join + groupBy
    would run twice — and handed to :func:`bucket_edges`; the bucket
    code is dropped from the result.

    Scale: one shuffle by code for the self-join, one by src for the
    top-k window. Bucket skew is the same lever as the dedup family:
    more planes → smaller buckets (recall drops; production would
    OR several band codes). The graph feeds the in-query beam walk
    (`ann_graph_beam_topk`); the persisted graph index builds the
    same edges through :func:`bucket_edges` against frozen planes.
    """
    from lol_data_pipeline_spark.caching import tracked_persist

    wc = widen(corpus)
    codes = _lsh_codes(wc, n_planes, "vec_id", "embedding")
    coded = tracked_persist(
        wc.join(codes, "vec_id").select("vec_id", "embedding", "code")
    )
    return bucket_edges(coded, k).drop("code")


def cosine_topk_arrow(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int = 10_000,
) -> DataFrame:
    """Exact cosine top-k on the Arrow/pandas fast path.

    The query set (small by contract, like any broadcast dim) is
    collected once into a numpy matrix and broadcast; each corpus
    partition streams through ``mapInPandas`` as Arrow batches and
    scores B×Q similarities with one BLAS matmul — the scale path
    when vectors are wide enough that JVM per-element folds lose to
    vectorized C.

    Each partition emits only its local top-k per query, ordered by
    the SAME total order the final ranking uses (rounded sim desc,
    match_id asc), so the global top-k — a tiny Q×k×partitions
    shuffle — is exact.
    """
    import numpy as np

    spark = corpus.sparkSession
    # Enforce the broadcast-size contract: a miswired call (corpus
    # passed as queries) must fail loudly, not OOM the driver. The
    # limit(n+1) fetches at most one row beyond the cap.
    qrows = queries.select(id_col, vec_col).limit(max_queries + 1).collect()
    if len(qrows) > max_queries:
        raise ValueError(
            f"cosine_topk_arrow: query set exceeds max_queries={max_queries}; "
            "the query side is collected and broadcast — pass the small side "
            "as queries, or raise max_queries deliberately"
        )
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    qmat = np.array([list(r[1]) for r in qrows], dtype=np.float64)
    qnorm = np.linalg.norm(qmat, axis=1)
    bc = spark.sparkContext.broadcast((qids, qmat, qnorm))

    def score(batches):
        import numpy as np
        import pandas as pd

        q_ids, q_mat, q_norm = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cmat = np.array([list(v) for v in pdf[vec_col]], dtype=np.float64)
            cids = pdf[id_col].to_numpy()
            sims = (cmat @ q_mat.T) / (
                np.linalg.norm(cmat, axis=1)[:, None] * q_norm[None, :]
            )
            out_q, out_m, out_s = [], [], []
            for j in range(len(q_ids)):
                s = np.round(sims[:, j], 6)
                s[cids == q_ids[j]] = -np.inf  # self-match
                order = np.lexsort((cids, -s))[: min(k, len(cids))]
                keep = order[np.isfinite(s[order])]
                out_q.extend([q_ids[j]] * len(keep))
                out_m.extend(cids[keep])
                out_s.extend(s[keep])
            yield pd.DataFrame(
                {"query_id": out_q, "match_id": out_m, "sim": out_s}
            )

    scored = widen(corpus).mapInPandas(
        score, "query_id long, match_id long, sim double"
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("match_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "match_id", "sim", "rank")
    )


def _quantize_i8(vec: Column) -> Column:
    """Symmetric int8 scalar quantization: q = clamp(⌊v·127 + 0.5⌋,
    -127, 127). floor(x+0.5) (not round()) so Spark and DuckDB agree
    on every value including exact halves; products stay < 2^21 per
    term so the integer dot is exactly representable in doubles."""
    return F.transform(
        vec.cast("array<double>"),
        lambda x: F.greatest(
            F.lit(-127).cast("long"),
            F.least(F.lit(127).cast("long"), F.floor(x * 127.0 + 0.5)),
        ),
    )


def sq_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    refine: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scalar-quantized ANN: rank by int8 dot product, keep
    ``refine``·k candidates per query, exact-cosine rescore those.

    The scale play: the int8 corpus is 4× smaller than float32 (8×
    vs double), so the scan stage is memory-bandwidth-cheap, and the
    expensive double-precision cosine runs on only refine·k rows per
    query. Same layout as brute force — corpus stays partitioned,
    queries broadcast, candidates are a tiny Q·refine·k shuffle."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        _quantize_i8(F.col(vec_col)).alias("qint"),
    )
    c = widen(corpus).select(
        F.col(id_col).alias("match_id"),
        F.col(vec_col).alias("cvec"),
        _quantize_i8(F.col(vec_col)).alias("cint"),
    )
    scored = c.join(F.broadcast(q), F.col("match_id") != F.col("query_id")).select(
        "query_id", "match_id", "qvec", "cvec",
        dot(F.col("qint"), F.col("cint")).alias("iscore"),
    )
    aw = Window.partitionBy("query_id").orderBy(
        F.col("iscore").desc(), F.col("match_id").asc()
    )
    cand = (
        scored.withColumn("arank", F.row_number().over(aw))
        .filter(F.col("arank") <= refine * k)
        .select(
            "query_id",
            "match_id",
            F.round(cosine(F.col("qvec"), F.col("cvec")), 6).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("match_id").asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "match_id", "sim", "rank")
    )


_DOT_SQL = (
    "aggregate(zip_with({a}, {b}, (p, q) -> p * q), "
    "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
)


def _seq_sq(vals: list[float]) -> float:
    """|v|² with the engines' left-to-right fold order (bit-equality
    with list_inner_product / the aggregate fold matters)."""
    acc = 0.0
    for v in vals:
        acc = acc + v * v
    return acc


def _arr_sql(vals: list[float]) -> str:
    return "array(" + ", ".join(f"CAST({v!r} AS DOUBLE)" for v in vals) + ")"


# r15 losing experiment (full log in OPTIMIZATION_r15.md): folding each
# argmin-over-candidates into array_min(transform(<one array<struct>
# codebook literal>)) shrank the Catalyst trees ~ncent× but LOST at
# execution — ArrayTransform/ArrayMin are CodegenFallback, so the
# corpus-sized encode/assign projections fell out of whole-stage
# codegen (+0.6..+1.3 s per IVF/PQ entry in clean A/Bs); rebuilding
# the same least() through the Column API with F.lit array literals
# lost even harder on py4j round-trips (+4 s, the round-5
# label_centroids lesson). The parsed-SQL least() unroll below is the
# measured-best construction AND execution shape; bit-equality of all
# three variants was proven on real data before timing.


def pq_encode(
    corpus: DataFrame,
    seeds: list[list[float]],
    m: int = 8,
    dsub: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep: list[str] | None = None,
    id_alias: str = "match_id",
    vec_alias: str = "cvec",
    widen_input: bool = True,
    emit: str = "xhat",
) -> DataFrame:
    """PQ index-build stage: encode every vector as m subspace codes
    (argmin-distance centroid per dsub-dim slice against the literal
    codebook) and emit the RECONSTRUCTED vector ``xhat`` — the form
    ADC candidate ranking consumes, since ⟨q, x̂⟩ = Σ_s ⟨q_s,
    c_{s,code_s}⟩. The encode itself is a pure projection: the
    codebook rides as literal expressions (constant size at any
    corpus scale), no join, no exchange added BY THIS STAGE (an
    upstream cell assignment's window still has its own exchange —
    pass ``widen_input=False`` for such pre-distributed input so this
    stage adds no redundant round-robin repartition either). Extra
    columns to carry through (e.g. an IVF cell id) pass via ``keep``.
    Candidate ties and distances are bit-deterministic (struct
    least() with (d2, j) lexicographic tie-break; all folds share
    the sequential order DuckDB's list_inner_product uses).

    ``emit``: "xhat" (default) keeps the in-query ADC form above;
    "codes" emits the m small-int code columns ``code0..code{m-1}``
    INSTEAD of xhat and drops the full-precision ride-along — the
    PERSISTED index form (m bytes per vector, the 100 TB storage
    win; operators/vector_index.py decodes back to the bit-identical
    xhat at serve time from the same literal codebook). One
    definition of the per-subspace argmin feeds both forms: the
    candidate struct already carries (d2, j, c) and the two modes
    just project different fields of the same winner."""
    ncent = len(seeds)
    if ncent < 2:
        # the SQL least(...) below needs >= 2 candidates, and a
        # 1-codeword codebook cannot quantize anything — fail loudly
        # instead of letting Spark reject the expression later.
        raise ValueError(f"pq_encode: codebook needs >= 2 seeds, got {ncent}")
    subc = [
        [seeds[j][s * dsub : (s + 1) * dsub] for j in range(ncent)] for s in range(m)
    ]
    keep = keep or []
    xdouble = f"CAST({vec_col} AS array<double>)"
    src = widen(corpus) if widen_input else corpus
    sliced = src.select(
        F.col(id_col).alias(id_alias),
        F.col(vec_col).alias(vec_alias),
        *keep,
        *[
            F.expr(f"slice({xdouble}, {s * dsub + 1}, {dsub})").alias(f"xs{s}")
            for s in range(m)
        ],
    )
    with_xx = sliced.select(
        id_alias,
        vec_alias,
        *keep,
        *[f"xs{s}" for s in range(m)],
        *[
            F.expr(_DOT_SQL.format(a=f"xs{s}", b=f"xs{s}")).alias(f"xx{s}")
            for s in range(m)
        ],
    )
    # argmin over candidates as ONE parsed least() SQL expression per
    # subspace. This exact form survived two r15 A/Bs against
    # smaller-tree variants (losing-experiment log in
    # OPTIMIZATION_r15.md): (a) array_min(transform(<one codebook
    # literal>)) — ArrayTransform/ArrayMin are CodegenFallback, the
    # corpus-sized encode projection fell out of whole-stage codegen,
    # +1.3 s on ann_ivfpq_topk; (b) the same least() built op-by-op
    # through the Column API with F.lit array literals — hundreds of
    # py4j round-trips per construction (the round-5 label_centroids
    # lesson), +4.4 s. One JVM-side SQL parse of the full candidate
    # list is the measured-fastest construction AND execution shape.
    sel_cols = []
    for s in range(m):
        cands = ", ".join(
            "named_struct('d2', xx{s} - 2 * ({ip}) + CAST({cc!r} AS DOUBLE), "
            "'j', {j}, 'c', {arr})".format(
                s=s,
                ip=_DOT_SQL.format(a=f"xs{s}", b=_arr_sql(subc[s][j])),
                cc=_seq_sq(subc[s][j]),
                j=j,
                arr=_arr_sql(subc[s][j]),
            )
            for j in range(ncent)
        )
        sel_cols.append(F.expr(f"least({cands})").alias(f"sel{s}"))
    enc = with_xx.select(id_alias, vec_alias, *keep, *sel_cols)
    if emit == "codes":
        return enc.select(
            id_alias,
            *keep,
            *[
                F.col(f"sel{s}.j").cast("int").alias(f"code{s}")
                for s in range(m)
            ],
        )
    return enc.select(
        id_alias,
        vec_alias,
        *keep,
        F.expr("concat(" + ", ".join(f"sel{s}.c" for s in range(m)) + ")").alias("xhat"),
    )


def pq_seeds(corpus: DataFrame, ncent: int) -> list[list[float]]:
    """The PQ codebook every IVF+PQ entry and the index build encode
    against: the ``ncent`` lowest-id vectors as doubles, collected
    once (a codebook-sized, deterministic collect the oracles
    re-derive as ``vec_id < ncent``)."""
    rows = (
        corpus.orderBy("vec_id")
        .limit(ncent)
        .select(F.col("embedding").cast("array<double>").alias("c"))
        .collect()
    )
    return [[float(v) for v in r.c] for r in rows]


def adc_scored(
    cand: DataFrame,
    probes: DataFrame,
    cols: list,
    xhat: str = "xhat",
    cells: bool = True,
) -> DataFrame:
    """The ADC scored join of the PQ family: candidates ⋈ broadcast
    probe rows — on ``cell_id = pcell`` when ``cells`` (IVF), always
    excluding the query itself — projected to ``cols`` plus
    ``approx = ⟨qvec, x̂⟩``. ``xhat`` is the reconstruction's SQL (the
    residual variant passes its ``c + r̂``). The one spelling of the
    asymmetric distance, shared by the in-query entries and the
    served index."""
    cond = F.col("match_id") != F.col("query_id")
    if cells:
        cond = (F.col("cell_id") == F.col("pcell")) & cond
    return cand.join(F.broadcast(probes), cond).select(
        *cols,
        F.expr(_DOT_SQL.format(a="CAST(qvec AS array<double>)", b=xhat)).alias(
            "approx"
        ),
    )


def _adc_refine_topk(
    scored: DataFrame, k: int, refine: int, extra_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Shared ADC final stage for the PQ family: approx-rank window →
    ``refine·k`` cut → exact-cosine rescore from the full-precision
    vectors → final top-k. ``scored`` carries (query_id, match_id,
    qvec, cvec, approx, *extra_cols); extras (e.g. ``probe_rank``)
    ride through to the output unchanged. One definition so
    :func:`pq_cosine_topk` and :func:`ivfpq_topk` cannot drift."""
    aw = Window.partitionBy("query_id").orderBy(
        F.col("approx").desc(), F.col("match_id").asc()
    )
    cand = (
        scored.withColumn("arank", F.row_number().over(aw))
        .filter(F.col("arank") <= refine * k)
        .select(
            "query_id",
            "match_id",
            *extra_cols,
            F.round(cosine(F.col("qvec"), F.col("cvec")), 6).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("match_id").asc())
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "match_id", *extra_cols, "sim", "rank")
    )


def pq_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    seeds: list[list[float]],
    m: int = 8,
    dsub: int = 8,
    k: int = 5,
    refine: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization ANN: encode each corpus vector as m
    subspace codes (argmin-distance centroid per dsub-dim slice),
    rank candidates by the inner product against the RECONSTRUCTED
    vector (⇔ the classic ADC lookup-table sum, since
    ⟨q, x̂⟩ = Σ_s ⟨q_s, c_{s,code_s}⟩), then exact-cosine rescore the
    top refine·k.

    The scale story: PQ codes are m bytes per vector (m·log₂|C|/8)
    — a 256× compression of a 64-d float32 corpus — so the candidate
    scan reads codes, not vectors. Encoding (see :func:`pq_encode`)
    is a PURE PROJECTION against literal centroids (the kmeans
    broadcast-literal pattern: collected driver-side once, constant
    size at any corpus scale) — no join, no shuffle; the corpus is
    scanned, never moved. Candidate ties and distances are
    bit-deterministic, so the two-stage oracle reproduces the exact
    candidate set."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    xhat = pq_encode(corpus, seeds, m=m, dsub=dsub, id_col=id_col, vec_col=vec_col)
    scored = adc_scored(
        xhat, q, ["query_id", "match_id", "qvec", "cvec"], cells=False
    )
    return _adc_refine_topk(scored, k, refine)


def residuals_with_cells(
    corpus: DataFrame,
    coarse: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cell assignment + per-row coarse centroid + RESIDUAL column
    (x − c_cell, elementwise double) — the index-build input for
    residual PQ (IVFADC proper). The centroid ride-along is a
    broadcast join against C rows; the residual is a pure zip_with
    projection. Returns (id, vec, cell_id, cv, res)."""
    cells = assign_ivf_cells(corpus, coarse, id_col, vec_col)
    cent = coarse.select(
        F.col(id_col).alias("cell_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    )
    return cells.join(F.broadcast(cent), "cell_id").withColumn(
        "res",
        F.zip_with(
            F.col(vec_col).cast("array<double>"), F.col("cv"), lambda a, b: a - b
        ),
    )


def ivfpq_residual_topk(
    corpus: DataFrame,
    queries: DataFrame,
    coarse: DataFrame,
    seeds: list[list[float]],
    nprobe: int = 2,
    m: int = 8,
    dsub: int = 8,
    k: int = 5,
    refine: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF+PQ with RESIDUAL encoding — canonical IVFADC
    (``by_residual=True``): each vector is PQ-encoded as x − c_cell,
    so the codebook spends its 2^codebits on the WITHIN-cell spread
    instead of re-describing the coarse structure the cell id
    already carries; the ADC score is ⟨q, c_cell + r̂⟩.

    WHEN it wins: iff the coarse quantizer absorbs real structure,
    i.e. E|x − c|² « E|x|² — the L2-clustered regime FAISS's
    by_residual default assumes. On a UNIT-NORM isotropic corpus
    with a COSINE coarse quantizer the residual energy is
    2 − 2·cos_max per vector, which in high dim EXCEEDS the unit
    raw energy (measured on this testdata: |res|² = 1.63 vs |x|² =
    1.00, reconstruction error 1.08 residual vs 0.75 raw, recall
    28 vs 34 of 50) — there the no-residual :func:`ivfpq_topk` is
    the right tool, and tests/test_round9_ops.py pins the measured
    relationship with this explanation rather than assuming the
    textbook ordering. ``seeds`` is the RESIDUAL codebook —
    :func:`residuals_with_cells` rows for deterministic non-centroid
    ids (a centroid's own residual is exactly zero — a degenerate
    codeword), collected by the caller (oracle-reproducible).

    Same scale shape as the no-residual composition: index build =
    one assignment pass + broadcast centroid ride-along + pure
    projection encode; queries broadcast as Q × nprobe probe rows;
    per query the scan touches ~nprobe/C of the corpus reading
    m-byte codes."""
    resdf = residuals_with_cells(corpus, coarse, id_col, vec_col)
    enc = pq_encode(
        resdf, seeds, m=m, dsub=dsub, id_col=id_col, vec_col="res",
        keep=[vec_col, "cell_id", "cv"],
        id_alias="match_id", vec_alias="res", widen_input=False,
    )
    qprobe = probe_cells(queries, coarse, nprobe, id_col, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        F.col("cell_id").alias("pcell"),
        "probe_rank",
    )
    scored = adc_scored(
        enc,
        qprobe,
        [
            "query_id",
            "match_id",
            "qvec",
            F.col(vec_col).alias("cvec"),
            F.col("probe_rank").cast("long").alias("probe_rank"),
        ],
        xhat="zip_with(cv, xhat, (u, v) -> u + v)",
    )
    return _adc_refine_topk(scored, k, refine, extra_cols=("probe_rank",))


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    coarse: DataFrame,
    seeds: list[list[float]],
    nprobe: int = 2,
    m: int = 8,
    dsub: int = 8,
    k: int = 5,
    refine: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF+PQ — the canonical production vector-index composition
    (coarse inverted lists to bound WHICH vectors are scanned, PQ
    codes to bound HOW MUCH is read per vector):

    1. every corpus vector is assigned to its nearest coarse
       centroid (:func:`assign_ivf_cells`) and PQ-encoded against
       the literal codebook (:func:`pq_encode`) — both pure
       scan-side stages of the one-off index build, no shuffle of
       the corpus by value;
    2. each query probes its ``nprobe`` nearest cells
       (:func:`probe_cells`) and ranks ONLY those cells' members by
       the asymmetric distance ⟨q, x̂⟩;
    3. the top ``refine·k`` per query are exact-cosine rescored from
       the full-precision vectors, top-k emitted with the probe that
       found each match.

    Scale: per query the scan touches ~nprobe/C of the corpus, and
    the candidate stage reads m-byte codes instead of dim·4-byte
    vectors — the two multiplicative reductions a 100 TB corpus
    needs stacked. This is the NO-RESIDUAL IVF+PQ variant (FAISS's
    ``by_residual=False``): vectors are PQ-encoded raw against one
    global codebook. Canonical IVFADC encodes the residual x − c_cell
    per cell, which buys recall when coarse cells are few and
    coarse-grained — the production refinement, needing per-cell
    codebook training this deterministic-seed setup can't express.
    Queries broadcast (Q × nprobe probe rows); the only data-sized
    work is the index build (one pass for cell assignment — whose
    per-id window is the build's single exchange — plus the pure
    projection encode), amortized across every query that ever
    probes it. Each vector lives in exactly one cell so the probed
    union is duplicate-free by construction."""
    cells = assign_ivf_cells(corpus, coarse, id_col, vec_col)
    enc = pq_encode(
        cells, seeds, m=m, dsub=dsub, id_col=id_col, vec_col=vec_col,
        keep=["cell_id"], widen_input=False,
    )
    qprobe = probe_cells(queries, coarse, nprobe, id_col, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        F.col("cell_id").alias("pcell"),
        "probe_rank",
    )
    scored = adc_scored(
        enc,
        qprobe,
        [
            "query_id",
            "match_id",
            "qvec",
            "cvec",
            F.col("probe_rank").cast("long").alias("probe_rank"),
        ],
    )
    return _adc_refine_topk(scored, k, refine, extra_cols=("probe_rank",))


def mmr_greedy(pool: DataFrame, lam: float, k: int) -> DataFrame:
    """Greedy maximal-marginal-relevance selection over a BOUNDED
    candidate pool: per query, pick argmax λ·rel(c) − (1−λ)·max_{s∈
    selected} sim(c, s), k−1 rounds after the relevance argmax.

    ``pool`` carries (query_id, cand, cvec, rel) with rel already
    rounded to 6 decimals. The selection is per-query LOCAL, so the
    whole greedy loop runs as ONE ``applyInPandas`` stage grouped on
    query_id — one shuffle of the Q×P pool, zero driver-synchronized
    rounds (the r11 shape was k−1 sequential anti-join/broadcast/
    window jobs: ~k Spark jobs of scheduling overhead per retrieval
    call, the wrong serving latency at any corpus size). Arithmetic
    is replicated EXACTLY so the existing oracles keep hash-matching:
      - pairwise sim: the sequential left-fold dot / (norm·norm) of
        cosine() (Python floats ARE IEEE doubles; same op order),
        then Spark round(x, 6) = BigDecimal-of-shortest-repr HALF_UP
        (Decimal(repr(x)).quantize, identical boundary behavior);
      - score: snap6 = floor(x·1e6 + 0.5)/1e6 over
        (λ·rel) − (μ·div), μ = round(1−λ, 6) — λ·rel is RATIONAL
        over 6-decimal inputs and lands on exact .5 ties
        (plans/round10.py's finding), hence the tie-safe snap;
      - tie order: score desc, cand asc.
    This is the selection kernel of plans/round10.py's
    ann_mmr_rerank; the served-pool composition (plans/round11.py)
    runs the IDENTICAL kernel over an index-served pool; equivalence
    is covered by
    tests/test_round11_ops.py::test_served_mmr_shares_selection_kernel.

    Returns (query_id, cand, rel, score, pick)."""
    mu = round(1 - lam, 6)
    types = {f.name: f.dataType.simpleString() for f in pool.schema.fields}
    out_schema = (
        f"query_id {types['query_id']}, cand {types['cand']}, "
        "rel double, score double, pick int"
    )

    def _kernel(pdf):
        import math
        from decimal import ROUND_HALF_UP, Decimal

        import pandas as pd

        cols = ["query_id", "cand", "rel", "score", "pick"]
        if len(pdf) == 0:
            return pd.DataFrame(columns=cols)
        q6 = Decimal("0.000001")

        def r6(x):
            # Spark round(x, 6) on DOUBLE: BigDecimal(Double.toString
            # (x)).setScale(6, HALF_UP) — shortest-repr decimal, then
            # half-up. repr() is Python's shortest-repr twin. CAVEAT
            # (r12 ADVICE): Double.toString is only guaranteed
            # shortest-repr on JDK >= 19 (Ryu); on the pinned JDK 17
            # runtime it can emit non-shortest strings for rare
            # boundary doubles, where this twin could diverge by one
            # ulp at the 6th decimal. The gate data never hits such a
            # value; a deployment on a different JDK should re-run
            # tests/test_round11_ops.py's kernel-equivalence check.
            return float(Decimal(repr(x)).quantize(q6, rounding=ROUND_HALF_UP))

        def snap6(x):
            # functions/scalar.snap: floor(x*1e6 + 0.5) -> long / 1e6
            return int(math.floor(x * 1000000 + 0.5)) / 1000000.0

        def sdot(a, b):
            # cosine()'s sequential left fold: acc + x*y from 0.0
            acc = 0.0
            for i in range(len(a)):
                acc += a[i] * b[i]
            return acc

        qid = pdf["query_id"].iloc[0]
        cands = list(pdf["cand"])
        rels = [float(r) for r in pdf["rel"]]
        vecs = [[float(x) for x in v] for v in pdf["cvec"]]
        norms = [math.sqrt(sdot(v, v)) for v in vecs]
        n = len(cands)
        # pick 1: argmax rel (ties: cand asc); score = snap(λ·rel)
        first = min(range(n), key=lambda i: (-rels[i], cands[i]))
        out = [(qid, cands[first], rels[first], snap6(lam * rels[first]), 1)]
        remaining = [i for i in range(n) if i != first]
        # div[i] = max over selected of round(cosine(c_i, s), 6);
        # max is associative, so the incremental update equals the
        # per-round recompute over the full selected set
        div = [None] * n
        last = first
        for t in range(2, k + 1):
            if not remaining:
                break
            for i in remaining:
                den = norms[i] * norms[last]
                if den == 0.0:
                    # zero-norm vector: the Spark plan's cosine is
                    # NULL and F.max ignores it — skip the pair
                    # instead of raising ZeroDivisionError (r12
                    # ADVICE), leaving div[i] as-is
                    continue
                ps = r6(sdot(vecs[i], vecs[last]) / den)
                if div[i] is None or ps > div[i]:
                    div[i] = ps

            def _key(i):
                # div[i] None (every pair NULL) -> NULL score, which
                # Spark's desc ordering places LAST; tie-break cand asc
                if div[i] is None:
                    return (1, 0.0, cands[i])
                return (0, -snap6((lam * rels[i]) - (mu * div[i])), cands[i])

            best = min(remaining, key=_key)
            out.append(
                (
                    qid,
                    cands[best],
                    rels[best],
                    None
                    if div[best] is None
                    else snap6((lam * rels[best]) - (mu * div[best])),
                    t,
                )
            )
            remaining.remove(best)
            last = best
        res = pd.DataFrame(out, columns=cols)
        res["query_id"] = res["query_id"].astype(pdf["query_id"].dtype)
        res["cand"] = res["cand"].astype(pdf["cand"].dtype)
        res["rel"] = res["rel"].astype("float64")
        res["score"] = res["score"].astype("float64")
        res["pick"] = res["pick"].astype("int32")
        return res

    return pool.groupBy("query_id").applyInPandas(_kernel, out_schema)
