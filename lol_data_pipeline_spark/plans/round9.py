"""Round-9 additions. The production vector-index family, each axis
in its production form: IVF+PQ (coarse inverted lists ×
compressed-code candidate scan), its RESIDUAL-encoding twin
(canonical IVFADC, registered with a measured analysis of when
by_residual helps and when it hurts), a kmeans-TRAINED IVF index
(closing the "production would k-means them" gap the seeded IVF
documents), the COMPLETE composition (trained coarse quantizer +
multi-probe + PQ + exact rescore), and SAMPLE-trained codebooks (the
100 TB build-cost path). Plus text_bpe_train — BPE tokenizer
induction over the document corpus (vocabulary-sized training
rounds, oracle-unrolled).

Registered AFTER every other plans module on purpose (same window
discipline as plans/round8.py): the driver's correctness gate samples
the FIRST 50 registry entries and orders never-green entries by
registration order — new entries must queue behind the existing
backlog, not displace it.

Scale notes (100 TB):
- ann_ivfpq_topk stacks the two multiplicative reductions a 100 TB
  corpus needs: the probe bounds WHICH vectors are scanned
  (~nprobe/C of the corpus) and PQ codes bound HOW MUCH is read per
  vector (m bytes vs dim·4). Both index stages are scan-side (one
  exchange for the cell-assignment window, a pure projection for the
  encode); queries broadcast.
- ann_ivf_kmeans_topk replaces the deterministic seed centroids with
  a Lloyd-trained codebook. Training is the broadcast-iterate
  pattern: per round one codegen aggregate + a k-row collect —
  constant driver traffic at any corpus scale — and the fixed-point
  integer centroid sums keep the codebook bit-identical across
  engines/partitionings, so the DuckDB oracle reproduces the full
  train→assign→probe→rank pipeline. Trained cells are flatter
  (tests/test_round9_ops.py pins the occupancy improvement), which
  is the 100 TB win: cell skew is scan skew at probe time.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from lol_data_pipeline_spark.plans.extensions import (
    _PQ_DSUB,
    _PQ_M,
    _PQ_NCENT,
    SQL_COS,
    _pq_xhat_ctes,
    km_dist_sql,
    kmeans_ctes,
)
from lol_data_pipeline_spark.plans.queries import T, query

_IVF_CELLS = 8
_NPROBE = 2
_NQ = 10
_K = 5
_REFINE = 4
_KM_ROUNDS = 5
# kmeans-IVF query set: two BOUNDED id ranges DISJOINT from the seed
# ids. Queries 0..7 are literally the seeded index's centroids —
# their cells are centered on the query itself, a structural
# advantage no trained index can match (and no real query workload
# enjoys), so a fair trained-vs-seeded comparison must probe from
# elsewhere. Both ranges are closed — the query set is a CONSTANT 20
# ids at any corpus size (embeddings grows with SF: 500 rows at
# sf0.001/0.01, 2000 at sf0.1), preserving the queries-broadcast
# contract every ANN entry relies on.
_KMQ_LO, _KMQ_HI = 100, 110
_KMQ_TAIL_LO, _KMQ_TAIL_HI = 490, 500
# Deterministic 1-in-4 training sample (vec_id % 4 = 0) — the 100 TB
# index-build path: codebook quality needs samples, not the corpus.
# Shared by ann_ivf_kmeans_sampled_topk AND the flagship
# ann_ivfpq_kmeans_topk (its own sampled twin measured 96% of the
# quantization-error win at 1/4 the training scan, recall 37>=28, so
# the flagship composes from the sampled codebook).
_SAMPLE_MOD = 4
_SAMPLE_WHERE = f"vec_id % {_SAMPLE_MOD} = 0"
# The persisted index's build parameters (vector_index.build_ivfpq_index);
# the flagship trains and encodes with the same ones.
_INDEX_PARAMS = dict(
    k=_IVF_CELLS,
    rounds=_KM_ROUNDS,
    m=_PQ_M,
    dsub=_PQ_DSUB,
    ncent=_PQ_NCENT,
    sample_mod=_SAMPLE_MOD,
    dim=64,
)
# the sampled codebook's final cells and centroids (see _codebook_ctes)
_CB_CELLS, _CB_CENTS = f"a{_KM_ROUNDS}", f"c{_KM_ROUNDS}"


def _fair_queries(df):
    """The fair query set's rows of ``df`` (any frame with vec_id)."""
    return df.filter(
        F.col("vec_id").between(_KMQ_LO, _KMQ_HI - 1)
        | F.col("vec_id").between(_KMQ_TAIL_LO, _KMQ_TAIL_HI - 1)
    )


def _fair_sql(alias: str = "") -> str:
    """The fair query set as an oracle predicate on ``alias.vec_id``
    (bare ``vec_id`` when no alias is given)."""
    v = f"{alias}.vec_id" if alias else "vec_id"
    return (
        f"({v} >= {_KMQ_LO} AND {v} < {_KMQ_HI})"
        f" OR ({v} >= {_KMQ_TAIL_LO} AND {v} < {_KMQ_TAIL_HI})"
    )


def _swapped_batch(emb, lo: int, hi: int, shift: int):
    """The upsert entries' new-vector batch: embeddings with
    ``lo`` ≤ vec_id < ``hi``, their two 32-dim halves swapped, under
    ids shifted by ``shift`` — genuinely new vectors that both engines
    derive from the shared testdata (oracle twin:
    :func:`_swapped_batch_cte`)."""
    x = F.col("embedding").cast("array<double>")
    return emb.filter(F.col("vec_id").between(lo, hi - 1)).select(
        (F.col("vec_id") + shift).alias("vec_id"),
        F.concat(F.slice(x, 33, 32), F.slice(x, 1, 32)).alias("embedding"),
    )


def _swapped_batch_cte(lo: int, hi: int, shift: int) -> str:
    """``allv``: the corpus ``e`` plus :func:`_swapped_batch`."""
    return f"""allv AS (
      SELECT vec_id, x FROM e
      UNION ALL
      SELECT vec_id + {shift} AS vec_id,
             list_concat(list_slice(x, 33, 64), list_slice(x, 1, 32)) AS x
      FROM e WHERE vec_id >= {lo} AND vec_id < {hi}
    )"""


def _cloned_docs(docs, where, shift: int):
    """The document upsert entries' batch: the ``documents`` rows
    matching ``where``, text unchanged, under ids shifted by
    ``shift`` — the re-ingest shape (oracle twin for an id range:
    :func:`_cloned_docs_cte`)."""
    return docs.filter(where).select(
        (F.col("doc_id") + shift).alias("doc_id"), "text"
    )


def _cloned_docs_cte(lo: int, hi: int, shift: int) -> str:
    """``alldocs``: the corpus plus :func:`_cloned_docs` of
    ``lo`` ≤ doc_id < ``hi``, as the ``WITH {head}`` of an oracle."""
    return f"""alldocs AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + {shift} AS doc_id, text FROM documents
      WHERE doc_id >= {lo} AND doc_id < {hi}
    ),
    """


def _codebook_ctes(batch: tuple[int, int, int] | None = None) -> list[str]:
    """The sampled-trained codebook every IVF+PQ oracle re-derives —
    build_ivfpq_index's training and assignment: extensions.
    kmeans_ctes with ``_IVF_CELLS`` cells and ``_KM_ROUNDS`` Lloyd
    rounds on the ``_SAMPLE_WHERE`` sample; cells ``_CB_CELLS``, centroids
    ``_CB_CENTS``. With an upsert ``batch`` = (lo, hi, shift), the
    final assignment reads corpus ∪ :func:`_swapped_batch_cte` instead
    of the corpus (training stays on the sample: the codebook is
    frozen); ``allv`` is spliced right after ``e``/``es`` because a
    DuckDB CTE may only reference earlier ones."""
    ctes = kmeans_ctes(
        _IVF_CELLS, assigns=_KM_ROUNDS + 1, updates=_KM_ROUNDS, dim=64,
        train_where=_SAMPLE_WHERE, assign_src="allv" if batch else "e",
    )
    if batch:
        ctes[2:2] = [_swapped_batch_cte(*batch)]
    return ctes


def _serve_head(
    queries: str, cut: int, widths: tuple[int, ...] = (_NPROBE,), member: str = ""
) -> str:
    """``WITH`` the codebook (:func:`_codebook_ctes`) and the IVF+PQ
    serve chain over it, the oracle twin of vector_index._served_topk:

    - ``qprobe``: each ``e`` row matching ``queries`` (the query set)
      with its max(``widths``) nearest trained cells, by (d², cid);
    - the PQ ``xhat`` block (:func:`_pq_xhat_ctes`);
    - ``widths``: one row per probe width ``nprobe``;
    - ``approx``: per width and query, the members of the cells that
      width probes (never the query itself; only those matching the
      ``member`` predicate on ``cl.vec_id``, when given) ranked by
      ⟨q, x̂⟩;
    - ``served``: the top ``cut`` of each (nprobe, query) rescored by
      exact cosine and ranked — (nprobe, query_id, match_id,
      probe_rank, sim, rank)."""
    keep = f" AND {member}" if member else ""
    rows = " UNION ALL ".join(f"SELECT {w} AS nprobe" for w in widths)
    return "WITH " + ",\n".join(_codebook_ctes()) + f""",
    qprobe AS (
      SELECT vec_id AS query_id, x AS qvec, cid AS pcell, rn AS probe_rank
      FROM (
        SELECT e.vec_id, e.x, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {km_dist_sql()}, c.cid) AS rn
        FROM e CROSS JOIN {_CB_CENTS} c
        WHERE {queries}
      ) WHERE rn <= {max(widths)}
    ),
    {_pq_xhat_ctes()},
    widths AS ({rows}),
    approx AS (
      SELECT w.nprobe, q.query_id, cl.vec_id AS match_id, q.qvec,
             CAST(q.probe_rank AS BIGINT) AS probe_rank,
             row_number() OVER (
               PARTITION BY w.nprobe, q.query_id
               ORDER BY list_inner_product(q.qvec, h.xh) DESC, cl.vec_id
             ) AS arank
      FROM qprobe q
      JOIN widths w ON q.probe_rank <= w.nprobe
      JOIN {_CB_CELLS} cl
        ON cl.cluster = q.pcell AND cl.vec_id <> q.query_id{keep}
      JOIN xhat h ON h.match_id = cl.vec_id
    ),
    served AS (
      SELECT nprobe, query_id, match_id, probe_rank, sim,
             CAST(row_number() OVER (
               PARTITION BY nprobe, query_id ORDER BY sim DESC, match_id
             ) AS BIGINT) AS rank
      FROM (
        SELECT a.nprobe, a.query_id, a.match_id, a.probe_rank,
               {SQL_COS.format(a='a.qvec', b='e2.embedding')} AS sim
        FROM approx a JOIN embeddings e2 ON e2.vec_id = a.match_id
        WHERE a.arank <= {cut}
      )
    )"""


def _sql_ivfpq() -> str:
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
      FROM assigned WHERE vec_id < {_NQ} AND rn <= {_NPROBE}
    ),
    {_pq_xhat_ctes()},
    approx AS (
      SELECT q.query_id, c.vec_id AS match_id, q.qvec,
             CAST(q.probe_rank AS BIGINT) AS probe_rank,
             row_number() OVER (
               PARTITION BY q.query_id
               ORDER BY list_inner_product(CAST(q.qvec AS DOUBLE[]), h.xh) DESC,
                        c.vec_id
             ) AS arank
      FROM qprobe q
      JOIN cells c ON c.cell_id = q.pcell AND c.vec_id <> q.query_id
      JOIN xhat h ON h.match_id = c.vec_id
    ),
    cand AS (
      SELECT a.query_id, a.match_id, a.probe_rank,
             {SQL_COS.format(a='a.qvec', b='e.embedding')} AS sim
      FROM approx a JOIN embeddings e ON e.vec_id = a.match_id
      WHERE a.arank <= {_REFINE * _K}
    ),
    ranked AS (
      SELECT query_id, match_id, probe_rank, sim,
             CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY sim DESC, match_id
             ) AS BIGINT) AS rank
      FROM cand
    )
    SELECT query_id, match_id, probe_rank, sim, rank
    FROM ranked WHERE rank <= {_K}
    """


@query("ann_ivfpq_topk", sql=_sql_ivfpq())
def ann_ivfpq_topk(spark, sf_dir):
    """IVF+PQ — the canonical production vector index (FAISS
    IVFADC's no-residual variant): every vector is assigned to one
    of {cells} coarse cells and PQ-encoded (m={m} subspaces × {nc}
    centroids); each query probes its {nprobe} nearest cells, ranks
    ONLY those cells' members by the asymmetric distance ⟨q, x̂⟩
    over the reconstructed codes, and exact-cosine rescores the top
    refine·k. ``probe_rank`` reports which probe found each match.
    Both index stages are scan-side; queries broadcast; per query
    the scan touches ~nprobe/C of the corpus reading m-byte codes.
    See operators/similarity.py:ivfpq_topk."""
    from lol_data_pipeline_spark.operators import similarity as sim

    emb = T(spark, sf_dir, "embeddings")
    return sim.ivfpq_topk(
        emb,
        emb.filter(F.col("vec_id") < _NQ),
        emb.filter(F.col("vec_id") < _IVF_CELLS),
        sim.pq_seeds(emb, _PQ_NCENT),
        nprobe=_NPROBE,
        m=_PQ_M,
        dsub=_PQ_DSUB,
        k=_K,
        refine=_REFINE,
    )


def _sql_ivfpq_residual() -> str:
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
      FROM assigned WHERE vec_id < {_NQ} AND rn <= {_NPROBE}
    ),
    res AS (
      SELECT c.vec_id, c.embedding, c.cell_id,
             CAST(ct.centvec AS DOUBLE[]) AS cv,
             list_transform(generate_series(1, 64),
               i -> CAST(c.embedding[i] AS DOUBLE) - CAST(ct.centvec[i] AS DOUBLE)) AS r
      FROM cells c JOIN cent ct ON ct.cell_id = c.cell_id
    ),
    rseeds AS (
      SELECT vec_id AS j, r AS c FROM res
      WHERE vec_id >= {_IVF_CELLS} AND vec_id < {_IVF_CELLS + _PQ_NCENT}
    ),
    sub AS (SELECT unnest(generate_series(0, {_PQ_M - 1})) AS s),
    cs2 AS (
      SELECT s.s, c.j, list_slice(c.c, s.s * {_PQ_DSUB} + 1, s.s * {_PQ_DSUB} + {_PQ_DSUB}) AS cs,
             list_inner_product(
               list_slice(c.c, s.s * {_PQ_DSUB} + 1, s.s * {_PQ_DSUB} + {_PQ_DSUB}),
               list_slice(c.c, s.s * {_PQ_DSUB} + 1, s.s * {_PQ_DSUB} + {_PQ_DSUB})
             ) AS cc
      FROM rseeds c CROSS JOIN sub s
    ),
    xs2 AS (
      SELECT x.vec_id, s.s,
             list_slice(x.r, s.s * {_PQ_DSUB} + 1, s.s * {_PQ_DSUB} + {_PQ_DSUB}) AS xsl
      FROM res x CROSS JOIN sub s
    ),
    d AS (
      SELECT xs2.vec_id, xs2.s, c.j, c.cs,
             list_inner_product(xs2.xsl, xs2.xsl)
               - 2 * list_inner_product(xs2.xsl, c.cs) + c.cc AS d2
      FROM xs2 JOIN cs2 c ON c.s = xs2.s
    ),
    chosen AS (
      SELECT vec_id, s, cs FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, j) AS rn FROM d
      ) WHERE rn = 1
    ),
    rhat AS (
      SELECT vec_id, flatten(list(cs ORDER BY s)) AS rh
      FROM chosen GROUP BY 1
    ),
    xhat AS (
      SELECT r.vec_id AS match_id,
             list_transform(generate_series(1, 64), i -> r.cv[i] + h.rh[i]) AS xh
      FROM res r JOIN rhat h ON h.vec_id = r.vec_id
    ),
    approx AS (
      SELECT q.query_id, c.vec_id AS match_id, q.qvec,
             CAST(q.probe_rank AS BIGINT) AS probe_rank,
             row_number() OVER (
               PARTITION BY q.query_id
               ORDER BY list_inner_product(CAST(q.qvec AS DOUBLE[]), h.xh) DESC,
                        c.vec_id
             ) AS arank
      FROM qprobe q
      JOIN cells c ON c.cell_id = q.pcell AND c.vec_id <> q.query_id
      JOIN xhat h ON h.match_id = c.vec_id
    ),
    cand AS (
      SELECT a.query_id, a.match_id, a.probe_rank,
             {SQL_COS.format(a='a.qvec', b='e.embedding')} AS sim
      FROM approx a JOIN embeddings e ON e.vec_id = a.match_id
      WHERE a.arank <= {_REFINE * _K}
    ),
    ranked AS (
      SELECT query_id, match_id, probe_rank, sim,
             CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY sim DESC, match_id
             ) AS BIGINT) AS rank
      FROM cand
    )
    SELECT query_id, match_id, probe_rank, sim, rank
    FROM ranked WHERE rank <= {_K}
    """


@query("ann_ivfpq_residual_topk", sql=_sql_ivfpq_residual())
def ann_ivfpq_residual_topk(spark, sf_dir):
    """IVFADC proper (``by_residual=True``): PQ encodes x − c_cell,
    spending the codebook's bits on the within-cell spread instead
    of re-describing the coarse structure the cell id already
    carries; the ADC score is ⟨q, c_cell + r̂⟩. Registered as the
    canonical composition AND as a measured counter-example to the
    textbook default: residual encoding wins iff the coarse
    quantizer absorbs real structure (E|res|² « E|x|²), and on this
    unit-norm corpus with a cosine coarse quantizer the residual
    energy (1.63) EXCEEDS the raw energy (1.00), so the no-residual
    twin out-recalls it 34 vs 28 of 50 — the relationship and its
    geometric cause are pinned in tests/test_round9_ops.py. The
    residual codebook is the residuals of vectors
    {cells}..{cells+nc-1} — NOT 0..{nc-1}: vectors 0..{cells-1} ARE
    the coarse centroids, so their residuals are exactly zero,
    degenerate codewords. Collected once (deterministic; the oracle
    re-derives the identical codebook via the residual CTE). Same
    scale shape: assignment +
    broadcast centroid ride-along + pure-projection encode build the
    index; queries broadcast as Q × nprobe probe rows.
    See operators/similarity.py:ivfpq_residual_topk."""
    from lol_data_pipeline_spark.operators import similarity as sim

    emb = T(spark, sf_dir, "embeddings")
    coarse = emb.filter(F.col("vec_id") < _IVF_CELLS)
    seed_rows = (
        sim.residuals_with_cells(emb, coarse)
        .filter(
            F.col("vec_id").between(_IVF_CELLS, _IVF_CELLS + _PQ_NCENT - 1)
        )
        .orderBy("vec_id")
        .select("res")
        .collect()
    )
    seeds = [[float(v) for v in r.res] for r in seed_rows]
    return sim.ivfpq_residual_topk(
        emb,
        emb.filter(F.col("vec_id") < _NQ),
        coarse,
        seeds,
        nprobe=_NPROBE,
        m=_PQ_M,
        dsub=_PQ_DSUB,
        k=_K,
        refine=_REFINE,
    )


def _sql_ivf_kmeans(train_where: str = "") -> str:
    ctes = kmeans_ctes(
        _IVF_CELLS, assigns=_KM_ROUNDS + 1, updates=_KM_ROUNDS, dim=64,
        train_where=train_where,
    )
    cells = f"a{_KM_ROUNDS}"
    return (
        "WITH "
        + ",\n".join(ctes)
        + f""",
    q AS (
      SELECT vec_id AS query_id, x AS qvec, cluster AS qcell
      FROM {cells}
      WHERE {_fair_sql()}
    ),
    scored AS (
      SELECT q.query_id, c.vec_id AS match_id,
             {SQL_COS.format(a='q.qvec', b='c.x')} AS sim
      FROM {cells} c JOIN q
        ON c.cluster = q.qcell AND c.vec_id <> q.query_id
    ),
    ranked AS (
      SELECT query_id, match_id, sim,
             CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY sim DESC, match_id
             ) AS BIGINT) AS rank
      FROM scored
    )
    SELECT query_id, match_id, sim, rank FROM ranked WHERE rank <= {_K}
    """
    )


def _sql_ivfpq_kmeans(rank_pred: str | None = None) -> str:
    """The flagship's oracle: codebook + serve chain over the fair
    query set, final ``rank <= _K``; ``rank_pred`` overrides that
    window (the hard-negative entry in plans/modeling.py passes the
    (k, k+neg] band over the SAME candidate chain)."""
    return _serve_head(_fair_sql("e"), _REFINE * _K) + f"""
    SELECT query_id, match_id, probe_rank, sim, rank
    FROM served WHERE {rank_pred or f"rank <= {_K}"}
    """


@query("ann_ivfpq_kmeans_topk", sql=_sql_ivfpq_kmeans())
def ann_ivfpq_kmeans_topk(spark, sf_dir):
    """The COMPLETE production vector index — every stage in its
    production form, composed: kmeans-trained coarse quantizer on a
    deterministic 1-in-{mod} SAMPLE ({cells} cells, {r} fixed-point
    Lloyd rounds — sampled training is the 100 TB build path; the
    repo's own twin measured 96% of the quantization-error win at
    1/4 the training scan and recall 37>=28 on the fair query set,
    so per Lloyd round the scan is sample-sized, not corpus-sized),
    MULTI-PROBE query routing (nprobe={np} nearest trained cells),
    PQ-compressed candidate scan (m={m}×{nc} codebook, no-residual —
    the variant that measured BETTER on this unit-norm corpus, see
    ann_ivfpq_residual_topk), exact-cosine rescore of refine·k.
    Plan shape: the ONLY joins are the equi broadcast join of
    Q×nprobe probe rows against cell membership and the bounded
    rescore — cell assignment AND probe selection are join-free pure
    projections against literal trained centroids (probe = posexplode
    of slice(array_sort(d², cid), 1, nprobe)); the PQ encode is a
    pure projection. Queries come from the seed-disjoint bounded id
    ranges (constant 20 at any SF). Each stage is the served index's
    own definition: vector_index.train_and_encode (the build's
    training, assignment, seeds and encode), vector_index.
    ivf_probe_rows, and the PQ family's ADC join similarity.
    adc_scored. The oracle is the shared codebook chain
    (_codebook_ctes) and serve chain (_serve_head) every served-IVF
    oracle builds on."""
    from lol_data_pipeline_spark.operators import similarity as sim
    from lol_data_pipeline_spark.operators.vector_index import (
        ivf_probe_rows,
        train_and_encode,
    )

    emb = T(spark, sf_dir, "embeddings")
    cents, _seeds, enc = train_and_encode(emb, **_INDEX_PARAMS, emit="xhat")
    qprobe = ivf_probe_rows(_fair_queries(emb), cents, _NPROBE)
    scored = sim.adc_scored(
        enc, qprobe, ["query_id", "match_id", "qvec", "cvec", "probe_rank"]
    )
    return sim._adc_refine_topk(scored, _K, _REFINE, extra_cols=("probe_rank",))


@query("ann_ivf_kmeans_topk", sql=_sql_ivf_kmeans())
def ann_ivf_kmeans_topk(spark, sf_dir):
    """IVF ANN over a kmeans-TRAINED codebook ({cells} cells, {r}
    Lloyd update rounds from the deterministic lowest-id seed) —
    the production upgrade of ann_ivf_topk's seed centroids, which
    similarity.py explicitly defers ("production would k-means
    them"). Training is the broadcast-iterate pattern (constant
    k-row driver traffic per round; fixed-point integer centroid
    sums keep the codebook bit-identical across engines, so the
    oracle reproduces train→assign→probe→rank end-to-end); cell
    assignment is a pure projection against literal trained
    centroids — no join, no shuffle of the corpus. Single-probe:
    each query scans only its own trained cell, exact cosine inside
    it. Queries are drawn from id ranges DISJOINT from the seed ids
    (see _KMQ_* above): 0..7 are the seeded index's own centroids,
    whose self-centered cells no trained or production index can
    match. On that fair workload training buys recall, flatter cell
    occupancy (cell skew is scan skew at probe time), and a ~43%
    lower quantization error — all pinned against the seeded index
    in tests/test_round9_ops.py."""
    return _ivf_kmeans_topk(spark, sf_dir, sampled=False)


@query(
    "ann_ivf_kmeans_sampled_topk",
    sql=_sql_ivf_kmeans(train_where=_SAMPLE_WHERE),
)
def ann_ivf_kmeans_sampled_topk(spark, sf_dir):
    """The 100 TB index-BUILD path made concrete: the kmeans
    codebook is trained on a deterministic 1-in-{mod} id sample
    (standard FAISS practice — codebook quality needs samples, not
    the corpus), so per Lloyd round the training scan reads sample
    rows instead of everything; the one-off FULL-corpus pass is only
    the final cell assignment, still a join-free projection against
    the literal trained centroids. Everything downstream (probe,
    in-cell exact cosine, top-k) is identical to
    ann_ivf_kmeans_topk, and the oracle re-derives the
    sampled-trained codebook via the shared kmeans_ctes chain
    (training CTEs read the filtered sample, the final assignment
    reads the corpus). tests/test_round9_ops.py pins that sampled
    training keeps the quantization-error win over the seeded index
    and stays within noise of full training on recall."""
    return _ivf_kmeans_topk(spark, sf_dir, sampled=True)


def _ivf_kmeans_topk(spark, sf_dir, sampled: bool):
    """The trained-IVF body of ann_ivf_kmeans_topk and its sampled
    twin: Lloyd training on the corpus or, when ``sampled``, on the
    ``_SAMPLE_MOD`` id sample (the ``train_where`` of
    :func:`_sql_ivf_kmeans`); full-corpus assignment against the
    literal trained centroids; each fair query scans its own cell
    with exact cosine."""
    from lol_data_pipeline_spark.operators.clustering import (
        kmeans_cells,
        kmeans_train,
    )
    from lol_data_pipeline_spark.operators.similarity import cosine

    emb = T(spark, sf_dir, "embeddings")
    train = emb.filter(F.col("vec_id") % _SAMPLE_MOD == 0) if sampled else emb
    cents = kmeans_train(train, k=_IVF_CELLS, rounds=_KM_ROUNDS, dim=64)
    cells = kmeans_cells(
        emb, k=_IVF_CELLS, rounds=_KM_ROUNDS, dim=64, cents=cents
    )
    queries = _fair_queries(cells).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        F.col("cell_id").alias("qcell"),
    )
    scored = cells.join(
        F.broadcast(queries),
        (F.col("cell_id") == F.col("qcell")) & (F.col("vec_id") != F.col("query_id")),
    ).select(
        "query_id",
        F.col("vec_id").alias("match_id"),
        F.round(cosine(F.col("qvec"), F.col("embedding")), 6).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("match_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= _K)
        .select("query_id", "match_id", "sim", "rank")
    )


_BPE_ROUNDS = 3


def _bpe_train_ctes() -> list[str]:
    """The unrolled training chain (vocabulary CTE, then per round:
    pair counts over the current representation → argmax by
    (cnt DESC, l, r) → literal separator replace), exposed as a CTE
    list so the ENCODE oracle (plans/round10.py) re-derives the same
    merges b0..b{r-1} before applying them — one definition of the
    oracle's training, mirroring operators/bpe.py's bpe_train().
    chr(183) is the U+00B7 separator operators/bpe.py uses."""
    ctes = [
        """words AS (
      SELECT word AS raw, count(*) AS n FROM (
        SELECT unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS word
        FROM documents
      ) t(word) WHERE word <> '' GROUP BY 1
    )""",
        """w0 AS (
      SELECT chr(183) || regexp_replace(raw, '(.)', '\\1' || chr(183), 'g') AS w, n
      FROM words
    )""",
    ]
    for i in range(_BPE_ROUNDS):
        ctes.append(f"""p{i} AS (
      SELECT z[1] AS l, z[2] AS r, CAST(sum(n) AS BIGINT) AS cnt
      FROM (
        SELECT unnest(list_zip(
                 list_slice(syms, 1, len(syms) - 1),
                 list_slice(syms, 2, len(syms)))) AS z, n
        FROM (SELECT list_filter(string_split(w, chr(183)), x -> x <> '') AS syms, n FROM w{i})
      )
      GROUP BY 1, 2
    )""")
        ctes.append(f"""b{i} AS (
      SELECT l, r, cnt FROM p{i} ORDER BY cnt DESC, l, r LIMIT 1
    )""")
        ctes.append(f"""w{i + 1} AS (
      SELECT replace(w, chr(183) || (SELECT l FROM b{i}) || chr(183) || (SELECT r FROM b{i}) || chr(183),
                     chr(183) || (SELECT l FROM b{i}) || (SELECT r FROM b{i}) || chr(183)) AS w, n
      FROM w{i}
    )""")
    return ctes


def _sql_bpe_train() -> str:
    """Oracle: the training chain's argmax rows b0..b{r-1} as the
    merge table."""
    unions = "\n      UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS round, l AS left_sym, r AS right_sym, l || r AS merged, cnt FROM b{i}"
        for i in range(_BPE_ROUNDS)
    )
    return (
        "WITH " + ",\n".join(_bpe_train_ctes())
        + f"\n    SELECT * FROM ({unions}) ORDER BY round"
    )


@query("text_bpe_train", sql=_sql_bpe_train())
def text_bpe_train(spark, sf_dir):
    """LEARN a BPE merge table from the corpus ({r} rounds) — the
    tokenizer-TRAINING op that completes the text-tokenization story
    (text_token_bpe only APPLIES a fixed pre-tokenizer). Per round:
    frequency-weighted adjacent-symbol pair counts over the DISTINCT
    WORD table (vocabulary-sized, not corpus-sized — the corpus is
    scanned exactly once for word extraction), a 1-row argmax
    collect (broadcast-iterate, bounded driver traffic), and a
    literal separator-replace that applies the merge corpus-wide as
    a pure projection. Merge application is separator-consuming
    leftmost replace — deterministic and engine-identical (the
    oracle unrolls the same loop); it differs from canonical HF BPE
    on ANY adjacent repetition of the merged pair (the shared
    boundary separator is consumed, so ···anana··· under merge
    (a, n) keeps an unmerged second occurrence canonical BPE would
    pair — odd self-pair runs like ···aaaa··· are one instance), a
    documented, count-neutral artifact: the next round recounts from
    the actual representation. See operators/bpe.py."""
    from lol_data_pipeline_spark.operators.bpe import bpe_train_merges

    return bpe_train_merges(T(spark, sf_dir, "documents"), rounds=_BPE_ROUNDS)
