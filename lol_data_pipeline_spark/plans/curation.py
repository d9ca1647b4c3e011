"""Round-7 additions: sequence-length bucketing economics,
quality-ranked near-dup representative selection, per-feed
freshness DQ, duplicate down-weighting, hybrid BM25+embedding RRF
retrieval, a CSV landing-zone scan, daily autocorrelation, and
filtered vector search (exact pre-filter baseline + IVF scale
path).

Scale notes (100 TB):
- length_buckets is a per-row projection plus a ≤4-group aggregate
  with constant state — scan speed on any cluster, no skew possible
  (bucket cardinality is fixed by the ladder, not the data).
- dedup_keep_best reuses the bucketed capped-Jaccard pair graph and
  4-round min-label components of corpus_dedup_keep_first; the extra
  cost over keep_first is two aggregates over the MEMBER list (rows
  proportional to the duplicate rate, not the corpus) and one more
  shuffle join on component. The anti-join stays a shuffle join so
  AQE decides broadcastability from the actual drop-set size.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from lol_data_pipeline_spark.plans.extensions import (
    SQL_NORM,
    SQL_TOKS,
    _sql_components_cte,
)
from lol_data_pipeline_spark.functions import text as tx
from lol_data_pipeline_spark.plans.queries import T, query

# ---------------------------------------------------------------------------
# Sequence-length bucketing: the padding-economics report a training
# pipeline runs before choosing packing bucket boundaries. Each doc
# is assigned the smallest capacity from a fixed ladder that holds
# it (docs over the top capacity are truncated there), and the entry
# reports per-bucket doc counts, token mass, padding waste and
# truncation loss, plus the padding ratio in integer basis points
# (pure integer division — engine-exact, no float anywhere).
# ---------------------------------------------------------------------------

_LADDER = (16, 32, 64)  # capacities below the top cap
_TOP_CAP = 96  # context length: longer docs truncate


def _bucket_case_sql(n: str) -> str:
    arms = " ".join(f"WHEN {n} <= {c} THEN {c}" for c in _LADDER)
    return f"CASE {arms} ELSE {_TOP_CAP} END"


@query(
    "corpus_length_buckets",
    sql=f"""
    WITH tok AS (
      SELECT doc_id, CAST(len({SQL_TOKS}) AS BIGINT) AS n FROM documents
    ), b AS (
      SELECT doc_id, n, CAST({_bucket_case_sql('n')} AS BIGINT) AS bucket_cap
      FROM tok
    )
    SELECT bucket_cap,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n) AS BIGINT) AS sum_tokens,
           CAST(sum(least(n, bucket_cap)) AS BIGINT) AS kept_tokens,
           CAST(sum(bucket_cap - least(n, bucket_cap)) AS BIGINT) AS pad_tokens,
           CAST(sum(greatest(n - bucket_cap, 0)) AS BIGINT) AS trunc_tokens,
           CAST((10000 * sum(bucket_cap - least(n, bucket_cap)))
                // (count(*) * bucket_cap) AS BIGINT) AS pad_bp
    FROM b GROUP BY 1
    """,
)
def corpus_length_buckets(spark, sf_dir):
    """Sequence-length bucketing economics: assign every document the
    smallest capacity from the {16,32,64,96} ladder that holds its
    whitespace-token count (docs over 96 truncate at 96), then report
    per-bucket document count, raw/kept token mass, padding waste
    (capacity minus kept tokens), truncation loss, and the padding
    ratio in integer basis points via exact integer division
    (``10000*pad DIV (n_docs*cap)`` — no float, engine-identical).

    This is the measurement a pipeline runs to choose packing bucket
    boundaries: pad_bp is what a naive pad-to-bucket batcher wastes,
    trunc_tokens what the context cap destroys. Per-row projection +
    a fixed-cardinality (≤4 group) aggregate with constant state —
    scan speed at any corpus size, skew-impossible by construction.
    Complements corpus_pack_token_budget (greedy bin packing) by
    quantifying WHY packing beats pad-to-bucket on this corpus."""
    return length_bucket_report(T(spark, sf_dir, "documents"))


def length_bucket_report(docs):
    """The reusable kernel behind corpus_length_buckets: per-bucket
    padding economics for any DataFrame with a ``text`` column.
    Property-tested against a Python model on arbitrary corpora
    (tests/test_properties.py)."""
    n = F.size(tx.tokens("text")).cast("long")
    cap = F.lit(_TOP_CAP)
    for c in reversed(_LADDER):
        cap = F.when(n <= c, F.lit(c)).otherwise(cap)
    b = docs.select(n.alias("n"), cap.cast("long").alias("bucket_cap"))
    kept = F.least(F.col("n"), F.col("bucket_cap"))
    return b.groupBy("bucket_cap").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n").alias("sum_tokens"),
        F.sum(kept).alias("kept_tokens"),
        F.sum(F.col("bucket_cap") - kept).alias("pad_tokens"),
        F.sum(F.greatest(F.col("n") - F.col("bucket_cap"), F.lit(0))).alias(
            "trunc_tokens"
        ),
        F.expr(
            "CAST((10000 * sum(bucket_cap - least(n, bucket_cap)))"
            " DIV (count(*) * bucket_cap) AS BIGINT)"
        ).alias("pad_bp"),
    )


# ---------------------------------------------------------------------------
# Quality-ranked near-dup survivor selection. corpus_dedup_keep_first
# keeps the MINIMUM doc_id per transitive duplicate group — the
# cheapest deterministic choice, but real curators keep the BEST
# member (here: most characters, i.e. the least-truncated variant).
# Representative = argmax over (n_chars, then min doc_id to break
# ties) — computed as two small aggregates over the member list so
# no packed sort key can overflow at any doc_id range.
# ---------------------------------------------------------------------------


def _sql_keep_best() -> str:
    with_clause, prev = _sql_components_cte(4)
    return f"""{with_clause},
members AS (
  SELECT l.v AS doc_id, l.label AS component FROM {prev} l
), mdocs AS (
  SELECT m.doc_id, m.component, d.n_chars
  FROM members m JOIN documents d ON d.doc_id = m.doc_id
), best AS (
  SELECT component, max(n_chars) AS best_chars FROM mdocs GROUP BY 1
), rep AS (
  SELECT md.component, min(md.doc_id) AS rep_id
  FROM mdocs md JOIN best b
    ON b.component = md.component AND md.n_chars = b.best_chars
  GROUP BY 1
)
SELECT d.doc_id, d.lang, d.source, CAST(d.n_chars AS BIGINT) AS n_chars
FROM documents d
WHERE d.doc_id NOT IN (
  SELECT m.doc_id FROM members m JOIN rep r ON r.component = m.component
  WHERE m.doc_id != r.rep_id
)
"""


@query("corpus_dedup_keep_best", sql=_sql_keep_best())
def corpus_dedup_keep_best(spark, sf_dir):
    """Near-dup removal keeping the BEST group member: capped-Jaccard
    pairs → 4-round min-label components (the corpus_dedup_keep_first
    kernel, reused verbatim) → per-component representative = the
    member with the most characters, minimum doc_id on ties — the
    policy a curator actually wants (keep the least-truncated
    variant), vs keep_first's arbitrary minimum id.

    The argmax is two aggregates over the member list (max n_chars
    per component, then min doc_id among maximal members) instead of
    a packed ``n_chars * K - doc_id`` sort key: no overflow at any
    doc_id range, and both engines compute it with identical integer
    semantics. Member rows scale with the duplicate rate, not the
    corpus; the final anti-join deliberately stays a shuffle join so
    AQE broadcasts the drop set only when it is actually small."""
    from lol_data_pipeline_spark.operators import dedup as dd
    from lol_data_pipeline_spark.operators import graph as g

    docs = T(spark, sf_dir, "documents")
    pairs = dd.ngram_jaccard_pairs(docs, n=3, threshold=0.8, max_shingle_df=500)
    members = g.connected_components(pairs, iters=4).select(
        "doc_id", F.col("component")
    )
    mdocs = members.join(docs.select("doc_id", "n_chars"), "doc_id")
    best = mdocs.groupBy("component").agg(F.max("n_chars").alias("best_chars"))
    rep = (
        mdocs.join(best, "component")
        .filter(F.col("n_chars") == F.col("best_chars"))
        .groupBy("component")
        .agg(F.min("doc_id").alias("rep_id"))
    )
    drops = (
        members.join(rep, "component")
        .filter(F.col("doc_id") != F.col("rep_id"))
        .select("doc_id")
    )
    return docs.join(drops, "doc_id", "left_anti").select(
        "doc_id", "lang", "source", F.col("n_chars").cast("long").alias("n_chars")
    )


# ---------------------------------------------------------------------------
# Data-quality freshness: the "is the feed still alive" check every
# ingestion pipeline runs. Lag is measured against a FIXED cutoff
# (the day after the dataset's last event) in exact integer
# microseconds→minutes, so both engines agree bit-for-bit; a feed
# whose newest event is ≥30 min stale is flagged. (Which feeds land
# on which side of the threshold depends on the generated testdata —
# with the current sf0.01 generation the five event types split
# error/purchase stale vs view/click/signup fresh.)
# ---------------------------------------------------------------------------

_FRESH_CUTOFF = "2024-01-31 00:00:00"  # testdata spans January 2024
_FRESH_STALE_MIN = 30


@query(
    "dq_freshness",
    sql=f"""
    SELECT event_type,
           max(ts) AS last_ts,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST((epoch_us(TIMESTAMP '{_FRESH_CUTOFF}') - epoch_us(max(ts)))
                // 60000000 AS BIGINT) AS lag_min,
           ((epoch_us(TIMESTAMP '{_FRESH_CUTOFF}') - epoch_us(max(ts)))
                // 60000000) >= {_FRESH_STALE_MIN} AS stale
    FROM events GROUP BY 1
    """,
)
def dq_freshness(spark, sf_dir):
    """Per-feed freshness monitor: newest event timestamp, event
    count, staleness lag in whole minutes against a fixed reference
    cutoff, and a stale flag at the 30-minute threshold — the
    liveness check a pipeline pages on (complements dq_anomaly's
    value checks and dq_expectations' schema checks with a TIME
    dimension). The lag is exact integer arithmetic (microsecond
    difference, integer-divided to minutes; the cutoff postdates
    every event so floor == truncate in both engines). One
    fixed-cardinality aggregate (one group per feed) with constant
    state — scan speed at any event volume."""
    cutoff_us = F.expr(f"unix_micros(timestamp'{_FRESH_CUTOFF}')")
    lag_min = F.expr(
        f"(unix_micros(timestamp'{_FRESH_CUTOFF}') - unix_micros(last_ts))"
        " DIV 60000000"
    )
    return (
        T(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.max("ts").alias("last_ts"),
            F.count("*").cast("long").alias("n_events"),
        )
        .select(
            "event_type",
            "last_ts",
            "n_events",
            lag_min.cast("long").alias("lag_min"),
            (lag_min >= _FRESH_STALE_MIN).alias("stale"),
        )
    )


# ---------------------------------------------------------------------------
# Duplicate DOWN-WEIGHTING (soft dedup): instead of dropping exact
# duplicates, give every member of a normalized-text duplicate group
# sampling weight 1/group_size — the repetition-aware alternative to
# removal (total group mass stays ~1 doc, so frequent boilerplate
# stops dominating the training mix without discarding provenance).
# ---------------------------------------------------------------------------

@query(
    "corpus_dedup_softweight",
    sql=f"""
    WITH n AS (SELECT doc_id, md5({SQL_NORM}) AS k FROM documents),
    sizes AS (
      SELECT k, CAST(count(*) AS BIGINT) AS group_size,
             min(doc_id) AS canonical_id
      FROM n GROUP BY 1
    )
    SELECT n.doc_id,
           s.group_size,
           CAST(10000 // s.group_size AS BIGINT) AS weight_bp,
           n.doc_id = s.canonical_id AS is_canonical
    FROM n JOIN sizes s ON s.k = n.k
    """,
)
def corpus_dedup_softweight(spark, sf_dir):
    """Soft dedup: every document keeps a row, but members of the
    same normalized-text group (case/punctuation/whitespace folded —
    corpus_normalize's canonical form, md5-keyed) share sampling
    mass: weight_bp = 10000/group_size in exact integer basis
    points, plus the group's canonical (minimum-id) member flag.
    Down-weighting instead of dropping is what a mixture builder
    wants when duplicates carry provenance (same text from many
    sources) — dedup_exact's removal is the special case weight=0
    for non-canonicals.

    Sizes come from a groupBy (map-side partial aggregation — a
    million-way boilerplate group collapses to one row per map task,
    where a count-over-window would funnel the whole group through
    one reducer), then join back on the content key; AQE handles the
    join's skew/broadcast choice. Two narrow integer columns beside
    the key — no text is shuffled twice."""
    return softweight_report(T(spark, sf_dir, "documents"))


def softweight_report(docs):
    """The reusable kernel behind corpus_dedup_softweight: duplicate
    down-weighting for any DataFrame with ``doc_id``/``text``.
    Property-tested against a Python model on corpora with REAL
    generated duplicate groups (tests/test_properties.py) — the
    small testdata scales are all-unique, so arbitrary-input testing
    is the only way to exercise multi-member groups cheaply."""
    n = docs.select("doc_id", F.md5(tx.normalize("text")).alias("k"))
    sizes = n.groupBy("k").agg(
        F.count("*").cast("long").alias("group_size"),
        F.min("doc_id").alias("canonical_id"),
    )
    return n.join(sizes, "k").select(
        "doc_id",
        "group_size",
        F.expr("CAST(10000 DIV group_size AS BIGINT)").alias("weight_bp"),
        (F.col("doc_id") == F.col("canonical_id")).alias("is_canonical"),
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval: BM25 lexical candidates fused with embedding
# cosine via Reciprocal Rank Fusion — the two-tower search pattern
# (keyword recall + semantic precision). RRF works on RANKS, not
# scores, so the fusion is exact integer-rational arithmetic and
# needs no score normalization.
# ---------------------------------------------------------------------------

_HYBRID_CANDIDATES = 50  # lexical pool size
_HYBRID_K = 10  # final results
_HYBRID_QUERY_VEC_ID = 0  # query embedding: vector of doc 0
_RRF_C = 60  # standard RRF constant


def _sql_hybrid() -> str:
    from lol_data_pipeline_spark.plans.extensions import (
        _BM25_B,
        _BM25_K1,
        _BM25_TERMS,
        _sql_bm25,
    )

    lex = _sql_bm25(_BM25_TERMS, _HYBRID_CANDIDATES, _BM25_K1, _BM25_B)
    return f"""
    WITH lex AS (SELECT doc_id, rank AS rank_lex FROM ({lex})),
    q AS (
      SELECT CAST(embedding AS DOUBLE[]) AS qe,
             sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                     CAST(embedding AS DOUBLE[]))) AS qn
      FROM embeddings WHERE vec_id = {_HYBRID_QUERY_VEC_ID}
    ),
    sem AS (
      SELECT l.doc_id, l.rank_lex,
             round(list_inner_product(CAST(e.embedding AS DOUBLE[]), q.qe)
                   / (sqrt(list_inner_product(CAST(e.embedding AS DOUBLE[]),
                                              CAST(e.embedding AS DOUBLE[])))
                      * q.qn), 6) AS cos_sim
      FROM lex l LEFT JOIN embeddings e ON e.vec_id = l.doc_id CROSS JOIN q
    ),
    ranked AS (
      SELECT doc_id, rank_lex, cos_sim,
             CAST(row_number() OVER (ORDER BY cos_sim DESC NULLS LAST, doc_id)
                  AS BIGINT) AS rank_sem
      FROM sem
    ),
    fused AS (
      SELECT doc_id, rank_lex, rank_sem, cos_sim,
             CAST(round(1000000 * (1.0 / ({_RRF_C} + rank_lex)
                                   + 1.0 / ({_RRF_C} + rank_sem))) AS BIGINT)
                 AS rrf_e6
      FROM ranked
    )
    SELECT doc_id, rank_lex, rank_sem, cos_sim, rrf_e6,
           CAST(row_number() OVER (ORDER BY rrf_e6 DESC, doc_id) AS BIGINT)
               AS final_rank
    FROM fused
    QUALIFY final_rank <= {_HYBRID_K}
    """


@query("ann_hybrid_rerank", sql=_sql_hybrid())
def ann_hybrid_rerank(spark, sf_dir):
    """Hybrid search: top-{50} BM25 lexical candidates for the fixed
    3-term query, semantically re-ranked against a query embedding
    (doc 0's vector), fused by Reciprocal Rank Fusion
    (Σ 1/(60+rank)) and cut to the final top-10. RRF fuses RANKS —
    small exact integers — so no cross-engine score normalization is
    needed; the only floats are the cosine (the proven bit-equal
    double fold of dedup_embedding_cosine, frozen at 6 dp) and the
    RRF rational, a deterministic function of two integer ranks.

    Scale shape: the BM25 stage builds postings only for the query's
    terms and broadcasts 1-row corpus stats (operators/search.py);
    everything after operates on a candidate set BOUNDED at 50 rows
    by construction — the embedding join probes 50 keys, and both
    row_number windows sort ≤50 rows, so the single-partition
    exchanges are constant-size at any corpus scale."""
    from lol_data_pipeline_spark.operators import search as srch
    from lol_data_pipeline_spark.operators import similarity as sim
    from lol_data_pipeline_spark.plans.extensions import (
        _BM25_B,
        _BM25_K1,
        _BM25_TERMS,
    )
    from pyspark.sql import Window

    docs = T(spark, sf_dir, "documents")
    emb = T(spark, sf_dir, "embeddings")
    lex = srch.bm25_topk(
        docs, _BM25_TERMS, k=_HYBRID_CANDIDATES, k1=_BM25_K1, b=_BM25_B
    ).select("doc_id", F.col("rank").alias("rank_lex"))
    q = (
        emb.filter(F.col("vec_id") == _HYBRID_QUERY_VEC_ID)
        .select(
            F.col("embedding").alias("qe"),
            sim.norm(F.col("embedding")).alias("qn"),
        )
    )
    # LEFT join: a lexical candidate without an embedding row keeps
    # its slot with cos_sim NULL and ranks LAST semantically — an
    # inner join would silently shrink the final top-k whenever the
    # embedding table lags the corpus (it does: at sf0.1 embeddings
    # covers 2000 of 5000 doc ids; found when the 27x probe returned
    # 6 of 10 rows). Lexical recall must not depend on embedding
    # coverage.
    sem = (
        lex.join(emb, lex.doc_id == emb.vec_id, "left")
        .crossJoin(F.broadcast(q))
        .select(
            "doc_id",
            "rank_lex",
            F.round(
                sim.dot(F.col("embedding"), F.col("qe"))
                / (sim.norm(F.col("embedding")) * F.col("qn")),
                6,
            ).alias("cos_sim"),
        )
    )
    w_sem = Window.orderBy(F.desc_nulls_last("cos_sim"), F.asc("doc_id"))
    ranked = sem.withColumn(
        "rank_sem", F.row_number().over(w_sem).cast("long")
    )
    fused = ranked.withColumn(
        "rrf_e6",
        F.expr(
            f"CAST(round(1000000 * (1.0 / ({_RRF_C} + rank_lex)"
            f" + 1.0 / ({_RRF_C} + rank_sem))) AS BIGINT)"
        ),
    )
    w_fin = Window.orderBy(F.desc("rrf_e6"), F.asc("doc_id"))
    return (
        fused.withColumn("final_rank", F.row_number().over(w_fin).cast("long"))
        .filter(F.col("final_rank") <= _HYBRID_K)
        .select(
            "doc_id", "rank_lex", "rank_sem", "cos_sim", "rrf_e6", "final_rank"
        )
    )


# ---------------------------------------------------------------------------
# CSV landing-zone scan. Registered here (not plans/queries.py with
# the other ref_ entries) so it queues behind the never-driver-
# verified backlog like every round-7 addition — see module
# docstring.
# ---------------------------------------------------------------------------


@query(
    "ref_csv_scan",
    sql="""
    -- the WHERE mirrors the entry's required-fields quarantine policy
    -- so both sides share it: today's generator emits no NULLs (the
    -- filter is a no-op), but a future generated NULL would otherwise
    -- be counted here while the CSV side quarantines it — a silent
    -- parity break in data, not code (r07-advice finding)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           round(sum(value), 2) AS sum_value,
           max(CAST(ts AS DATE)) AS last_day
    FROM events
    WHERE event_id IS NOT NULL AND ts IS NOT NULL AND user_id IS NOT NULL
      AND event_type IS NOT NULL AND value IS NOT NULL
    GROUP BY 1
    """,
)
def ref_csv_scan(spark, sf_dir):
    """Schema-enforced CSV landing-zone source: the events table
    staged as headerless CSV, read back under a DECLARED schema in
    PERMISSIVE mode with three injected malformed rows (type
    violation, short row, stray header line) quarantined by a
    required-fields filter (see inline comment for why NOT the
    `_corrupt_record` column: CSV corrupt-marking is relative to the
    pruned parse set) — then aggregated.
    Parity against the parquet table proves the CSV round trip is
    lossless (epoch-micros timestamps via the shared ts_from_epoch
    chokepoint; doubles via Java shortest-round-trip text) AND that
    the corrupt lines contaminated nothing.

    The CSV parser path (line splitting, quote/escape handling,
    column-count checks) and its failure modes are disjoint from the
    JSONL twin's (`ref_json_lines_scan`, sources/jsonl.py) — this is
    the other half of the landing-zone format matrix. Reference
    analog: the blind `response.json()` ingestion surface
    (`/root/reference/src/api/pipeline.py:67-74`), re-expressed as
    declared-schema scans with an explicit malformed-row policy."""
    from lol_data_pipeline_spark.sources.csv import read_events_csv

    raw = read_events_csv(spark, sf_dir)
    # Quarantine = REQUIRED-FIELDS policy, not the corrupt column:
    # Spark's CSV parser marks a row corrupt only w.r.t. the columns
    # the final (pruned) query actually parses, so a filter on
    # _corrupt_record alone changes meaning under composition — the
    # injected SHORT row ("12345,98765") leaks an all-null group in
    # any downstream query that prunes the tail columns, and Spark
    # outright rejects corrupt-only queries
    # (QUERY_ONLY_CORRUPT_RECORD_COLUMN). Requiring every declared
    # field non-null is pruning-INDEPENDENT (missing tokens and
    # failed casts are null under every parse), rejects all three
    # injected shapes, forces the full row into the parse set, and
    # is the policy a landing zone actually wants: a row missing a
    # required field is quarantined whether or not the parser called
    # it corrupt. (The JSONL twin can filter _corrupt_record
    # directly: JSON tokenizes the full line regardless of pruning.)
    valid = raw.filter(
        F.col("event_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("event_type").isNotNull()
        & F.col("value").isNotNull()
    )
    return valid.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        F.max(F.to_date("ts")).alias("last_day"),
    )


# ---------------------------------------------------------------------------
# Autocorrelation of the daily volume series: the temporal-
# dependence diagnostic (weekly rhythm, trend persistence) that
# complements CUSUM (level shifts), KS/PSI (value drift) and entropy
# (mix drift). Exact-integer core: centering by d_t = n*x_t - S
# (n = #days, S = total events) scales deviations by n, so the
# autocovariance numerators and the variance denominator are EXACT
# integer sums (the n^2 factor cancels in the ratio); only the final
# ratio is a rounded double, identical in both engines.
# ---------------------------------------------------------------------------

_ACF_MAX_LAG = 7


@query(
    "stat_acf_daily",
    sql=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1
    ),
    scal AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(c) AS BIGINT) AS s
      FROM daily
    ),
    dev AS (
      SELECT row_number() OVER (ORDER BY day) AS t,
             scal.n AS n, scal.n * c - scal.s AS d
      FROM daily CROSS JOIN scal
    ),
    den AS (SELECT CAST(sum(d * d) AS BIGINT) AS den, max(n) AS n FROM dev),
    lags AS (SELECT unnest(generate_series(1, {_ACF_MAX_LAG})) AS lag),
    num AS (
      SELECT l.lag, CAST(sum(a.d * b.d) AS BIGINT) AS num,
             CAST(count(*) AS BIGINT) AS n_pairs
      FROM lags l
      JOIN dev a ON TRUE
      JOIN dev b ON b.t = a.t + l.lag
      GROUP BY 1
    )
    SELECT num.lag AS lag,
           num.num AS num_scaled,
           den.den AS den_scaled,
           num.n_pairs,
           round(CAST(num.num AS DOUBLE) / nullif(den.den, 0), 6) AS r_acf
    FROM num CROSS JOIN den
    """,
)
def stat_acf_daily(spark, sf_dir):
    """Autocorrelation (lags 1..7) of the daily event-count series —
    the weekly-rhythm/persistence monitor pairing with
    stat_cusum_changepoint on the time axis. Exact-integer design:
    deviations are d_t = n*c_t - S (pure BIGINT), so num/den are
    exact integer aggregates emitted alongside the rounded ratio —
    any engine reproduces them bit-for-bit; the n² scale factor
    cancels in r_acf. The day series is CALENDAR-bounded (≤36.5k
    rows/century), so the rank window and the ≤7-lag self-join are
    constant-size at any event volume — the same bounded-input
    argument as stat_cusum_changepoint, and the daily aggregate
    before them runs at full scan parallelism."""
    ev = T(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count("*").cast("long").alias("c")
    )
    scal = daily.agg(
        F.count("*").cast("long").alias("n"), F.sum("c").cast("long").alias("s")
    )
    from pyspark.sql import Window

    dev = (
        daily.crossJoin(F.broadcast(scal))
        .select(
            F.row_number().over(Window.orderBy("day")).alias("t"),
            "n",
            (F.col("n") * F.col("c") - F.col("s")).alias("d"),
        )
    )
    den = dev.agg(
        F.sum(F.col("d") * F.col("d")).cast("long").alias("den_scaled"),
        F.max("n").alias("n"),
    )
    lags = spark.range(1, _ACF_MAX_LAG + 1).select(F.col("id").alias("lag"))
    a = dev.select(F.col("t").alias("ta"), F.col("d").alias("da"))
    b = dev.select(F.col("t").alias("tb"), F.col("d").alias("db"))
    num = (
        lags.crossJoin(a)
        .join(b, F.col("tb") == F.col("ta") + F.col("lag"))
        .groupBy("lag")
        .agg(
            F.sum(F.col("da") * F.col("db")).cast("long").alias("num_scaled"),
            F.count("*").cast("long").alias("n_pairs"),
        )
    )
    return num.crossJoin(F.broadcast(den)).select(
        "lag",
        "num_scaled",
        "den_scaled",
        "n_pairs",
        F.round(
            F.col("num_scaled").cast("double")
            / F.expr("nullif(den_scaled, 0)"),
            6,
        ).alias("r_acf"),
    )


# ---------------------------------------------------------------------------
# Filtered vector search: top-k under a metadata predicate — the
# canonical hard problem of production vector stores (a selective
# filter guts an ANN index's candidate lists; the exact pre-filter
# scan is the correctness baseline every filtered-ANN strategy is
# measured against). Queries are the first 5 vectors; the predicate
# keeps one label (~10% of the corpus).
# ---------------------------------------------------------------------------

_FILT_LABEL = 3
_FILT_K = 10
_FILT_NQ = 5


def _sql_filtered_topk() -> str:
    from lol_data_pipeline_spark.plans.extensions import SQL_COS

    cos = SQL_COS.format(a="q.qvec", b="c.embedding")
    return f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qvec
      FROM embeddings WHERE vec_id < {_FILT_NQ}
    ),
    scored AS (
      SELECT q.query_id, c.vec_id AS match_id, c.label, {cos} AS sim
      FROM q JOIN embeddings c
        ON c.label = {_FILT_LABEL} AND c.vec_id <> q.query_id
    ),
    ranked AS (
      SELECT query_id, match_id, label, sim,
             CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY sim DESC, match_id
             ) AS BIGINT) AS rank
      FROM scored
    )
    SELECT query_id, match_id, label, sim, rank
    FROM ranked WHERE rank <= {_FILT_K}
    """


@query("ann_filtered_topk", sql=_sql_filtered_topk())
def ann_filtered_topk(spark, sf_dir):
    """Filtered vector search: exact cosine top-{10} per query over
    ONLY the corpus vectors matching a metadata predicate
    (label = 3, ~10% selectivity) — the operation a production
    vector store calls "pre-filtered ANN", here in its exact form:
    the predicate prunes BEFORE scoring (pushed to the parquet
    scan), so cost is selectivity x corpus, and the result is the
    ground truth any filtered-index strategy (IVF with per-cell
    filtering, bitmap-intersected posting lists) must reproduce.

    Post-filtering an unfiltered top-k is WRONG at low selectivity
    (k survivors are not the filtered top-k); this entry pins the
    correct semantics. Plan shape mirrors the brute-force kernels:
    5 queries broadcast with precomputed norms, the filtered corpus
    scanned once, per-query rank windows bounded by the filtered
    candidate count. At 100 TB the same predicate composes with the
    IVF/LSH candidate generators (filter the candidate list, rescore
    exactly); this exact form is their recall baseline."""
    from lol_data_pipeline_spark.operators import similarity as sim

    emb = T(spark, sf_dir, "embeddings")
    q = sim.with_norm(
        emb.filter(F.col("vec_id") < _FILT_NQ), "embedding", "qnrm"
    ).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"), "qnrm"
    )
    c = sim.with_norm(
        sim.widen(emb.filter(F.col("label") == _FILT_LABEL)), "embedding", "cnrm"
    )
    from pyspark.sql import Window

    scored = (
        c.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("match_id"),
            "label",
            F.round(
                sim.dot(F.col("qvec"), F.col("embedding"))
                / (F.col("qnrm") * F.col("cnrm")),
                6,
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("match_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= _FILT_K)
        .select("query_id", "match_id", "label", "sim", "rank")
    )


# ---------------------------------------------------------------------------
# The SCALE path of filtered search: IVF cell probe with the
# predicate applied INSIDE the probed cell, exact rescore. The index
# geometry is built on the FULL corpus (an index is built once;
# filters vary per query), which is precisely why filtered ANN loses
# recall — a cell may hold few rows matching the predicate. The
# exact twin (ann_filtered_topk) is this entry's ground truth.
# ---------------------------------------------------------------------------


def _sql_filtered_ivf() -> str:
    from lol_data_pipeline_spark.plans.extensions import SQL_COS

    return f"""
    WITH cent AS (
      SELECT vec_id AS cell_id, embedding AS centvec
      FROM embeddings WHERE vec_id < 8
    ),
    assigned AS (
      SELECT vec_id, embedding, cell_id,
             row_number() OVER (PARTITION BY vec_id
               ORDER BY {SQL_COS.format(a='embedding', b='centvec')} DESC,
                        cell_id) AS rn
      FROM embeddings CROSS JOIN cent
    ),
    cells AS (SELECT vec_id, embedding, cell_id FROM assigned WHERE rn = 1),
    q AS (
      SELECT vec_id AS query_id, embedding AS qvec, cell_id AS qcell
      FROM cells WHERE vec_id < {_FILT_NQ}
    ),
    scored AS (
      SELECT q.query_id, c.vec_id AS match_id, e.label,
             {SQL_COS.format(a='q.qvec', b='c.embedding')} AS sim
      FROM q
      JOIN cells c ON c.cell_id = q.qcell AND c.vec_id <> q.query_id
      JOIN embeddings e ON e.vec_id = c.vec_id AND e.label = {_FILT_LABEL}
    ),
    ranked AS (
      SELECT query_id, match_id, label, sim,
             CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY sim DESC, match_id
             ) AS BIGINT) AS rank
      FROM scored
    )
    SELECT query_id, match_id, label, sim, rank
    FROM ranked WHERE rank <= {_FILT_K}
    """


@query("ann_filtered_ivf_topk", sql=_sql_filtered_ivf())
def ann_filtered_ivf_topk(spark, sf_dir):
    """Filtered ANN, scale path: probe only the query's IVF cell,
    keep candidates matching the metadata predicate (label = 3),
    exact-rescore, top-{10}. The index is built on the FULL corpus
    — filters vary per query, the index doesn't — so a query whose
    cell is poor in the filtered label returns FEWER than k rows:
    the textbook filtered-ANN recall loss, measured against
    ann_filtered_topk (the exact pre-filter twin) in the tests.

    At 100 TB this is the strategy that works: cell probe bounds
    the scan (~n_centroids x reduction), the predicate prunes within
    the probed cell, and the exact rescore runs on the bounded
    remainder. The production escalation (probe more cells until k
    filtered matches accumulate) changes only the cell list, not
    this plan shape."""
    from lol_data_pipeline_spark.operators import similarity as sim
    from pyspark.sql import Window

    emb = T(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 8)
    cells = sim.assign_ivf_cells(emb, centroids)
    q = cells.filter(F.col("vec_id") < _FILT_NQ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        F.col("cell_id").alias("qcell"),
    )
    cand = cells.join(
        emb.filter(F.col("label") == _FILT_LABEL).select("vec_id", "label"),
        "vec_id",
    )
    scored = cand.join(
        F.broadcast(q),
        (F.col("cell_id") == F.col("qcell"))
        & (F.col("vec_id") != F.col("query_id")),
    ).select(
        "query_id",
        F.col("vec_id").alias("match_id"),
        "label",
        F.round(sim.cosine(F.col("qvec"), F.col("embedding")), 6).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("match_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= _FILT_K)
        .select("query_id", "match_id", "label", "sim", "rank")
    )


# ---------------------------------------------------------------------------
# Streaming twin of dq_freshness: the same per-feed freshness report
# produced from MAX-MERGE GroupState accumulated across a
# four-micro-batch replay. Max-merge is the state shape monitoring
# needs (high-water marks) and is not exercised by any existing
# multibatch twin (totals = sum-merge, dedup = set-membership,
# topk = bounded list). A batch lost at any trigger surfaces as a
# short count or a stale high-water mark against the batch oracle.
# ---------------------------------------------------------------------------


@query(
    "stream_freshness_multibatch",
    sql=f"""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           epoch_us(max(ts)) AS max_ts_us,
           CAST((epoch_us(TIMESTAMP '{_FRESH_CUTOFF}') - epoch_us(max(ts)))
                // 60000000 AS BIGINT) AS lag_min,
           ((epoch_us(TIMESTAMP '{_FRESH_CUTOFF}') - epoch_us(max(ts)))
                // 60000000) >= {_FRESH_STALE_MIN} AS stale
    FROM events GROUP BY 1
    """,
)
def stream_freshness_multibatch(spark, sf_dir):
    """In-stream per-feed freshness: count + max event time held as
    per-feed GroupState across a four-micro-batch ordered replay
    (streaming/stateful.py feed_freshness_multibatch), then the same
    lag/stale derivation as the batch dq_freshness entry. The final
    snapshot must equal the batch aggregate: state lost at a trigger
    boundary yields a short count or a stale high-water mark.
    Max-merge state is constant-size per feed (two BIGINTs), bounded
    by the event-type vocabulary at any volume."""
    from lol_data_pipeline_spark.streaming.stateful import (
        feed_freshness_multibatch,
    )

    snap = feed_freshness_multibatch(spark, sf_dir)
    lag_min = F.expr(
        f"(unix_micros(timestamp'{_FRESH_CUTOFF}') - max_ts_us) DIV 60000000"
    )
    return snap.select(
        "event_type",
        "n_events",
        "max_ts_us",
        lag_min.cast("long").alias("lag_min"),
        (lag_min >= _FRESH_STALE_MIN).alias("stale"),
    )
