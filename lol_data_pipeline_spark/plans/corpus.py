"""Training-data curation pipeline operators over the documents
table: PII scrubbing, repetition scoring, quality filtering,
stratified sampling, token-budget sequence packing, benchmark
decontamination.

These are the corpus-preparation stages an LLM data pipeline runs
between raw crawl and tokenizer — each a pure DataFrame plan with a
DuckDB oracle. Regex patterns are restricted to constructs with
identical semantics in Java regex (Spark) and RE2 (DuckDB).

Scale notes (100 TB):
- pii_scrub / repetition / quality_filter are per-row projections —
  no shuffle at all; they run at scan speed on any cluster size.
- sample_stratified is a deterministic hash filter — no shuffle, no
  sampleBy() (whose per-stratum fractions are seeded but
  partitioning-dependent); the SAME rows are kept on any cluster.
- pack_token_budget is one window per source partition — a single
  hash-partition shuffle on source; bins come off a running sum, so
  packing is streaming within each partition, never driver-side.
- decontaminate joins the corpus's inverted shingle index against a
  benchmark-only index: cost is |corpus shingles ∩ benchmark
  shingles|, never corpus × benchmark. The benchmark side (a test
  set, thousands of docs) broadcasts.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from lol_data_pipeline_spark.functions import text as tx
from lol_data_pipeline_spark.functions.scalar import md5_long
from lol_data_pipeline_spark.plans.extensions import SQL_MD5_LONG, SQL_NORM, SQL_TOKS
from lol_data_pipeline_spark.plans.queries import T, query

# ---------------------------------------------------------------------------
# PII scrubbing. The synthetic corpus has no natural PII, so the plan
# INJECTS deterministic id-derived contact strings first, then
# scrubs — the oracle injects identically and predicts the redaction
# counts, so a pattern that silently stops matching breaks parity.
# ---------------------------------------------------------------------------

_EMAIL_RE = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z][a-zA-Z]+"
_PHONE_RE = r"[0-9]{3}-[0-9]{3}-[0-9]{4}"
_SSN_RE = r"[0-9]{3}-[0-9]{2}-[0-9]{4}"


@query(
    "corpus_pii_scrub",
    sql=f"""
    WITH aug AS (
      SELECT doc_id,
             concat(text, ' contact user', CAST(doc_id AS VARCHAR),
                    '@mail.example.com or 555-',
                    lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0'), '-',
                    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'),
                    ' id 987-65-', lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')) AS t
      FROM documents
    )
    SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(t,
             '{_EMAIL_RE}', '<EMAIL>', 'g'),
             '{_SSN_RE}', '<SSN>', 'g'),
             '{_PHONE_RE}', '<PHONE>', 'g') AS scrubbed,
           CAST(len(regexp_extract_all(t, '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(t, '{_SSN_RE}')) AS BIGINT) AS n_ssn_like
    FROM aug
    """,
)
def corpus_pii_scrub(spark, sf_dir):
    """PII redaction: email / SSN-shaped / phone-shaped patterns
    replaced with typed placeholder tags, plus per-doc redaction
    counts (the audit trail a compliance pipeline keeps). Pure
    regexp projection — scan-speed at any scale. SSN (3-2-4) is
    scrubbed BEFORE phone (3-3-4): the orders are disjoint but the
    fixed order makes overlapping custom patterns deterministic."""
    aug = T(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example.com or 555-"),
            F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" id 987-65-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("t"),
    )
    scrub = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("t"), _EMAIL_RE, "<EMAIL>"),
            _SSN_RE,
            "<SSN>",
        ),
        _PHONE_RE,
        "<PHONE>",
    )
    return aug.select(
        "doc_id",
        scrub.alias("scrubbed"),
        F.size(F.regexp_extract_all("t", F.lit(_EMAIL_RE), F.lit(0))).cast("long").alias("n_emails"),
        F.size(F.regexp_extract_all("t", F.lit(_SSN_RE), F.lit(0))).cast("long").alias("n_ssn_like"),
    )


# ---------------------------------------------------------------------------
# Repetition scoring: duplicate n-gram mass per document.
# ---------------------------------------------------------------------------


@query(
    "corpus_repetition",
    sql=f"""
    WITH tok AS (SELECT doc_id, {SQL_TOKS} AS t FROM documents),
    sh AS (
      SELECT doc_id,
             list_transform(generate_series(1, greatest(0, len(t) - 2)),
                            i -> array_to_string(list_slice(t, i, i + 2), ' ')) AS s
      FROM tok
    )
    SELECT doc_id,
           CAST(len(s) AS BIGINT) AS n_shingles,
           CAST(len(list_distinct(s)) AS BIGINT) AS n_distinct,
           round(CASE WHEN len(s) = 0 THEN 0.0
                      ELSE 1.0 - len(list_distinct(s)) * 1.0 / len(s) END, 4)
             AS rep_ratio
    FROM sh
    """,
)
def corpus_repetition(spark, sf_dir):
    """Repetition detection: fraction of word 3-grams that are
    repeats of an earlier 3-gram in the same document (1 −
    distinct/total). High-repetition docs (boilerplate, generated
    spam, navigation chrome) are a standard pre-training drop
    filter. Per-row projection over the shingle array — no
    shuffle."""
    sh = tx.word_shingle_arrays(
        T(spark, sf_dir, "documents"), 3, "text", keep=["doc_id"], distinct=False
    )
    n_sh = F.size("sh_arr")
    n_d = F.size(F.array_distinct("sh_arr"))
    return sh.select(
        "doc_id",
        n_sh.cast("long").alias("n_shingles"),
        n_d.cast("long").alias("n_distinct"),
        F.round(
            F.when(n_sh == 0, F.lit(0.0)).otherwise(1.0 - n_d * F.lit(1.0) / n_sh), 4
        ).alias("rep_ratio"),
    )


# ---------------------------------------------------------------------------
# Quality-filter composition: the keep/drop gate a curation pipeline
# applies, with per-rule verdicts for auditability.
# ---------------------------------------------------------------------------


@query(
    "corpus_quality_filter",
    sql=f"""
    WITH tok AS (SELECT doc_id, lang, n_chars, {SQL_TOKS} AS t FROM documents)
    SELECT doc_id,
           (len(t) BETWEEN 30 AND 5000) AS len_ok,
           (len(list_distinct(t)) * 1.0 / len(t) >= 0.3) AS diversity_ok,
           (lang = 'en') AS lang_ok,
           ((len(t) BETWEEN 30 AND 5000)
            AND (len(list_distinct(t)) * 1.0 / len(t) >= 0.3)
            AND lang = 'en') AS kept
    FROM tok
    WHERE len(t) > 0
    """,
)
def corpus_quality_filter(spark, sf_dir):
    """Quality-gate composition: token-count bounds, lexical
    diversity (distinct/total tokens), and language allowlist, each
    reported as its own verdict column plus the conjunctive `kept`
    flag — the audit-friendly shape (a curation run logs WHY a doc
    was dropped, not just that it was). One tokenize, one
    projection, no shuffle."""
    tok = T(spark, sf_dir, "documents").select(
        "doc_id", "lang", tx.tokens("text").alias("t")
    )
    n = F.size("t")
    div = F.size(F.array_distinct("t")) * F.lit(1.0) / n
    len_ok = n.between(30, 5000)
    div_ok = div >= 0.3
    lang_ok = F.col("lang") == "en"
    return tok.filter(n > 0).select(
        "doc_id",
        len_ok.alias("len_ok"),
        div_ok.alias("diversity_ok"),
        lang_ok.alias("lang_ok"),
        (len_ok & div_ok & lang_ok).alias("kept"),
    )


@query(
    "corpus_quality_adaptive",
    sql=f"""
    WITH tok AS (SELECT doc_id, {SQL_TOKS} AS t FROM documents),
    scores AS (
      SELECT doc_id,
             (len(list_distinct(t)) * 10000) // len(t) AS score
      FROM tok WHERE len(t) > 0
    ),
    hist AS (SELECT score, count(*) AS c FROM scores GROUP BY 1),
    cum AS (SELECT score, sum(c) OVER (ORDER BY score) AS cum FROM hist),
    total AS (SELECT count(*) AS n FROM scores),
    cut AS (SELECT min(score) AS cutoff FROM cum, total WHERE cum > n // 4)
    SELECT CAST(s.doc_id AS BIGINT) AS doc_id,
           CAST(s.score AS BIGINT) AS score,
           (s.score >= c.cutoff) AS kept
    FROM scores s CROSS JOIN cut c
    """,
)
def corpus_quality_adaptive(spark, sf_dir):
    """Adaptive quality gate: keep everything at or above the
    corpus's own 25th-percentile lexical-diversity score, instead of
    a hand-picked absolute threshold (what production curation does —
    "drop the worst quartile" survives corpus drift; a fixed 0.3
    cutoff does not). The score is PURE INTEGER fixed-point
    ((distinct·10⁴) div total — no float anywhere, so both engines
    agree bit-for-bit), and the percentile is EXACT without a global
    sort: scores live in the bounded domain [0, 10000], so a
    histogram aggregate (≤10001 groups, one shuffle with map-side
    combine), a running sum over that BOUNDED histogram, and a 1-row
    cutoff broadcast back onto the scores replace any data-sized
    ranking. At 100 TB the histogram is still ≤10001 rows — the same
    bounded-domain exact-quantile shape as sketch_quantile_hist, and
    the reason this plan's unpartitioned window is allowlisted in
    tools/plan_audit.py."""
    tok = T(spark, sf_dir, "documents").select(
        "doc_id", tx.tokens("text").alias("t")
    )
    n = F.size("t")
    scores = tok.filter(n > 0).select(
        "doc_id",
        (F.size(F.array_distinct("t")).cast("long") * 10000)
        .cast("long")
        .alias("__num"),
        n.cast("long").alias("__den"),
    ).select(
        "doc_id", F.expr("__num div __den").alias("score")
    )
    hist = scores.groupBy("score").agg(F.count("*").alias("c"))
    w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select("score", F.sum("c").over(w).alias("cum"))
    total = scores.agg(F.count("*").alias("n"))
    cut = (
        cum.join(F.broadcast(total))
        .filter(F.col("cum") > F.expr("n div 4"))
        .agg(F.min("score").alias("cutoff"))
    )
    return scores.join(F.broadcast(cut)).select(
        "doc_id", "score", (F.col("score") >= F.col("cutoff")).alias("kept")
    )


# ---------------------------------------------------------------------------
# Deterministic stratified sampling.
# ---------------------------------------------------------------------------

_STRATUM_PCT = {"en": 50, "de": 30, "fr": 30, "es": 30, "zh": 20}


def _sql_rate_case() -> str:
    clauses = " ".join(
        f"WHEN '{lang}' THEN {pct}" for lang, pct in _STRATUM_PCT.items()
    )
    return f"CASE lang {clauses} ELSE 10 END"


@query(
    "corpus_sample_stratified",
    sql=f"""
    SELECT doc_id, lang, source
    FROM documents
    WHERE {SQL_MD5_LONG.format(expr="concat('smp:', CAST(doc_id AS VARCHAR))")} % 100
          < {_sql_rate_case()}
    """,
)
def corpus_sample_stratified(spark, sf_dir):
    """Stratified downsampling with per-language rates (upweight
    English, downweight zh — the mixture-rebalancing step of corpus
    assembly). The keep decision is a pure hash of the doc id —
    deterministic and partitioning-independent, unlike sampleBy()
    whose outcome depends on row-to-partition placement; the same
    corpus yields the same sample on 1 executor or 1000. No
    shuffle."""
    d = T(spark, sf_dir, "documents")
    rate = F.lit(10)
    for lang, pct in _STRATUM_PCT.items():
        rate = F.when(F.col("lang") == lang, F.lit(pct)).otherwise(rate)
    keep = (
        F.pmod(md5_long(F.concat(F.lit("smp:"), F.col("doc_id").cast("string"))), F.lit(100))
        < rate
    )
    return d.filter(keep).select("doc_id", "lang", "source")


# ---------------------------------------------------------------------------
# Token-budget sequence packing.
# ---------------------------------------------------------------------------


@query(
    "corpus_pack_token_budget",
    sql=f"""
    WITH tok AS (SELECT doc_id, source, CAST(len({SQL_TOKS}) AS BIGINT) AS n_tok
                 FROM documents),
    c AS (
      SELECT doc_id, source, n_tok,
             sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum
      FROM tok
    )
    SELECT doc_id, source, n_tok,
           CAST((cum - 1) // 2048 AS BIGINT) AS bin_id
    FROM c
    """,
)
def corpus_pack_token_budget(spark, sf_dir):
    """Sequence packing: assign documents (per source shard, in
    doc-id order) to fixed token-budget bins by running token count —
    the batching stage that turns a filtered corpus into ~2048-token
    training sequences. One window per source partition: a single
    hash shuffle on source, packing itself is a streaming running
    sum, never a driver loop. Bin id = ceil-division of the
    cumulative count, so a doc straddling a boundary closes the
    earlier bin (the greedy first-fit rule)."""
    tok = T(spark, sf_dir, "documents").select(
        "doc_id", "source", F.size(tx.tokens("text")).cast("long").alias("n_tok")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return tok.select(
        "doc_id",
        "source",
        "n_tok",
        ((F.sum("n_tok").over(w) - 1) / F.lit(2048)).cast("long").alias("bin_id"),
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination.
# ---------------------------------------------------------------------------


@query(
    "corpus_decontaminate",
    sql=f"""
    WITH tok AS (SELECT doc_id, source, {SQL_TOKS} AS t FROM documents),
    sh AS (
      SELECT doc_id, source,
             unnest(list_distinct(
               list_transform(generate_series(1, greatest(0, len(t) - 4)),
                              i -> array_to_string(list_slice(t, i, i + 4), ' ')))) AS s
      FROM tok
    ),
    bench AS (SELECT DISTINCT s FROM sh WHERE source IN ('src0', 'src1')),
    hits AS (
      SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS n_shared
      FROM sh JOIN bench ON bench.s = sh.s
      WHERE sh.source NOT IN ('src0', 'src1')
      GROUP BY 1
    )
    SELECT doc_id, n_shared, (n_shared >= 3) AS contaminated
    FROM hits
    """,
)
def corpus_decontaminate(spark, sf_dir):
    """Benchmark decontamination: flag training docs sharing ≥3
    distinct word 5-grams with the held-out set (sources src0/src1
    standing in for an eval benchmark) — the overlap rule used to
    keep test questions out of pre-training corpora. The benchmark's
    distinct-shingle index is small (it's a test set) and
    BROADCASTS; the corpus side streams through the join at scan
    parallelism, so cost is corpus-shingles × O(1), never corpus ×
    benchmark."""
    sh = tx.word_shingle_arrays(
        T(spark, sf_dir, "documents"), 5, "text", keep=["doc_id", "source"]
    ).select(
        "doc_id",
        "source",
        F.explode_outer("sh_arr").alias("s"),
    ).filter(F.col("s").isNotNull())
    is_bench = F.col("source").isin("src0", "src1")
    bench = sh.filter(is_bench).select("s").distinct()
    return (
        sh.filter(~is_bench)
        .join(F.broadcast(bench), "s")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
        .select(
            "doc_id", "n_shared", (F.col("n_shared") >= 3).alias("contaminated")
        )
    )


# ---------------------------------------------------------------------------
# Text normalization.
# ---------------------------------------------------------------------------


@query(
    "corpus_normalize",
    sql=f"""
    SELECT doc_id,
           {SQL_NORM} AS normalized,
           CAST(length(text) AS BIGINT) AS n_chars_raw,
           CAST(length({SQL_NORM}) AS BIGINT) AS n_chars_norm
    FROM documents
    """,
)
def corpus_normalize(spark, sf_dir):
    """Canonical text normalization: lowercase, strip
    non-alphanumerics, collapse whitespace runs, trim — the
    pre-tokenizer cleanup pass (and the canonical form exact-dedup
    should hash, so case/punctuation variants collapse;
    :func:`tx.normalize`). Pure projection — scan speed."""
    norm = tx.normalize("text")
    return T(spark, sf_dir, "documents").select(
        "doc_id",
        norm.alias("normalized"),
        F.length("text").cast("long").alias("n_chars_raw"),
        F.length(norm).cast("long").alias("n_chars_norm"),
    )


# ---------------------------------------------------------------------------
# End-to-end near-dup removal: the operation a curation pipeline
# actually runs (pairs → transitive groups → keep one per group).
# ---------------------------------------------------------------------------


def _sql_keep_first() -> str:
    from lol_data_pipeline_spark.plans.extensions import _sql_components

    return f"""
    SELECT d.doc_id, d.lang, d.source, CAST(d.n_chars AS BIGINT) AS n_chars
    FROM documents d
    WHERE d.doc_id NOT IN (
      SELECT doc_id FROM ({_sql_components(4)}) c WHERE c.drop
    )
    """


@query("corpus_dedup_keep_first", sql=_sql_keep_first())
def corpus_dedup_keep_first(spark, sf_dir):
    """The actionable form of near-dup dedup: documents minus every
    non-representative member of a transitive duplicate group
    (capped-Jaccard pairs → 4-round min-label components → keep the
    minimum doc_id per group, drop the rest via left_anti). The drop
    set is NOT broadcast on purpose: at corpus scale it is
    proportional to the dup rate, so the anti-join must stay a
    shuffle join (AQE will broadcast it when it is actually small)."""
    from lol_data_pipeline_spark.operators import dedup as dd
    from lol_data_pipeline_spark.operators import graph as g

    docs = T(spark, sf_dir, "documents")
    pairs = dd.ngram_jaccard_pairs(docs, n=3, threshold=0.8, max_shingle_df=500)
    # drop set straight from the component labels: a member is
    # dropped iff it is not its group's minimum id (doc_id !=
    # component). The previous dedup_groups() call also computed
    # per-group sizes and broadcast-joined them back — columns this
    # entry never selects (r15: one aggregate + one broadcast join
    # removed from every run; keep_best/leakage_safe_split still use
    # dedup_groups for the size/representative columns they DO emit).
    drops = (
        g.connected_components(pairs, iters=4)
        .filter(F.col("doc_id") != F.col("component"))
        .select("doc_id")
    )
    return docs.join(drops, "doc_id", "left_anti").select(
        "doc_id", "lang", "source", F.col("n_chars").cast("long").alias("n_chars")
    )


# ---------------------------------------------------------------------------
# Context-window chunking: the tokenizer-feed step. Fixed-size token
# windows with overlap, final ragged chunk kept if it clears a
# minimum. Pure per-row explode — zero shuffles at any scale.
# ---------------------------------------------------------------------------

_CHUNK, _STRIDE, _MIN_CHUNK = 64, 48, 8


@query(
    "corpus_chunk_overlap",
    sql=f"""
    WITH tok AS (SELECT doc_id, {SQL_TOKS} AS t FROM documents),
    starts AS (
      SELECT doc_id, t,
             unnest(generate_series(1, greatest(1, len(t)), {_STRIDE})) AS start
      FROM tok
    ), chunks AS (
      SELECT doc_id,
             CAST((start - 1) // {_STRIDE} AS BIGINT) AS chunk_idx,
             CAST(start AS BIGINT) AS start_tok,
             list_slice(t, start, start + {_CHUNK} - 1) AS chunk
      FROM starts
    )
    SELECT doc_id, chunk_idx, start_tok,
           CAST(len(chunk) AS BIGINT) AS n_chunk_tokens,
           array_to_string(chunk, ' ') AS chunk_text
    FROM chunks WHERE len(chunk) >= {_MIN_CHUNK}
    """,
)
def corpus_chunk_overlap(spark, sf_dir):
    """Split each document into {64-token, stride-48} overlapping
    chunks (16-token overlap), dropping tail fragments under 8
    tokens — the context-window preparation step between curation
    and tokenization. chunk_idx derives from the start offset
    ((start−1)/stride), so no positional explode is needed and both
    engines label chunks identically. Per-row sequence+slice only:
    no shuffle, runs at scan speed at any corpus size."""
    docs = T(spark, sf_dir, "documents")
    base = docs.select("doc_id", tx.tokens("text").alias("t"))
    starts = base.select(
        "doc_id",
        "t",
        F.explode_outer(
            F.sequence(F.lit(1), F.greatest(F.lit(1), F.size("t")), F.lit(_STRIDE))
        ).alias("start"),
    ).filter(F.col("start").isNotNull())
    chunks = starts.select(
        "doc_id",
        F.expr(f"CAST((start - 1) DIV {_STRIDE} AS BIGINT)").alias("chunk_idx"),
        F.col("start").cast("long").alias("start_tok"),
        F.slice("t", F.col("start"), _CHUNK).alias("chunk"),
    )
    return chunks.filter(F.size("chunk") >= _MIN_CHUNK).select(
        "doc_id",
        "chunk_idx",
        "start_tok",
        F.size("chunk").cast("long").alias("n_chunk_tokens"),
        F.concat_ws(" ", "chunk").alias("chunk_text"),
    )


# ---------------------------------------------------------------------------
# Mixture sampling: weighted multi-source blending with epoch
# upsampling — the "data mixture" step that turns per-source weights
# (web 0.25×, books 2.5×, …) into an actual training stream.
# ---------------------------------------------------------------------------

# weight in HUNDREDTHS per source (default 100 = 1.0×): ≥100 →
# floor(w)ₓ full copies plus a hash-sampled fractional epoch; <100 →
# plain downsample. Integer hundredths keep the keep-threshold exact.
_MIX_WH = {"src0": 250, "src1": 200, "src2": 60, "src3": 25}


def _sql_mix_wh() -> str:
    whens = " ".join(f"WHEN '{s}' THEN {w}" for s, w in _MIX_WH.items())
    return f"CASE source {whens} ELSE 100 END"


@query(
    "corpus_mixture_sample",
    sql=f"""
    WITH w AS (
      SELECT doc_id, source,
             {_sql_mix_wh()} AS wh,
             {SQL_MD5_LONG.format(expr="concat('mix:', CAST(doc_id AS VARCHAR))")} % 100 AS h
      FROM documents
    ), n AS (
      SELECT doc_id, source,
             (wh // 100) + CASE WHEN h < wh % 100 THEN 1 ELSE 0 END AS total
      FROM w
    )
    SELECT doc_id, source, CAST(unnest(generate_series(0, total - 1)) AS BIGINT) AS epoch
    FROM n WHERE total > 0
    """,
)
def corpus_mixture_sample(spark, sf_dir):
    """Weighted source mixing with epoch upsampling: each source gets
    a mixture weight w (hundredths); a document yields floor(w) full
    copies tagged epoch=0..floor(w)−1 plus one more iff a
    deterministic hash of its id lands under frac(w) — so a 2.5×
    source emits every doc twice and half the docs a third time,
    while a 0.25× source keeps a quarter. The keep decision is a
    pure id hash (like `corpus_sample_stratified`): the SAME stream
    comes out on any cluster size or partitioning, which is what
    makes the mixture reproducible run-to-run.

    Plan: per-row CASE + hash + a bounded `sequence` generator
    (≤⌈max w⌉ copies) — no shuffle, no sampleBy, runs at scan speed;
    upsampling materializes at the scan rather than via repeated
    source reads. At 100 TB the output size is Σ wᵢ·|sourceᵢ| by
    construction and each copy carries its epoch tag for the
    downstream pack/shuffle stage."""
    d = T(spark, sf_dir, "documents")
    wh = F.lit(100)
    for s, w in _MIX_WH.items():
        wh = F.when(F.col("source") == s, F.lit(w)).otherwise(wh)
    h = F.pmod(
        md5_long(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))), F.lit(100)
    )
    total = (wh / 100).cast("int") + F.when(h < wh % 100, 1).otherwise(0)
    return (
        d.select("doc_id", "source", total.alias("total"))
        .filter(F.col("total") > 0)
        .select(
            "doc_id",
            "source",
            F.explode(F.sequence(F.lit(0), F.col("total") - 1)).alias("epoch"),
        )
        .withColumn("epoch", F.col("epoch").cast("long"))
    )


@query(
    "corpus_shard_plan",
    sql=f"""
    WITH keyed AS (
      SELECT doc_id, n_chars,
             {SQL_MD5_LONG.format(expr="concat('shard:', CAST(doc_id AS VARCHAR))")} % 16 AS shard,
             {SQL_MD5_LONG.format(expr="concat('ord:', CAST(doc_id AS VARCHAR))")} AS sort_key
      FROM documents
    )
    SELECT shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           min(sort_key) AS first_key,
           max(sort_key) AS last_key,
           min_by(doc_id, sort_key) AS first_doc
    FROM keyed GROUP BY 1
    """,
)
def corpus_shard_plan(spark, sf_dir):
    """Deterministic global-shuffle plan for training-data sharding:
    every document gets a content-independent (shard, sort_key) from
    engine-portable md5 hashes, and the entry reports the per-shard
    balance sheet (doc count, byte mass, key range, first doc).

    Why hash-order instead of a shuffled row_number: a global random
    permutation needs a data-sized sort to ONE ordering authority,
    and isn't reproducible across reruns/partitionings. Hash keys
    give the same three properties training wants — uniform shard
    balance, a total deterministic order within each shard (sort by
    sort_key at write time, a per-shard local sort), and exact
    reproducibility from doc_id alone — with zero data-sized
    coordination: the assignment is a per-row projection and the
    report is one 16-group aggregate with constant state.

    At 100 TB the write path is
    `df.repartition(16, shard).sortWithinPartitions(sort_key)` — one
    shuffle whose reducers ARE the shards; this entry pins the
    assignment semantics that write depends on. Reference analog:
    the match-ID list partitioning the bulk fetch fans out over
    (`/root/reference/src/api/pipeline.py:30-35`), generalized to
    reproducible ML shards."""
    d = T(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id",
        "n_chars",
        (
            md5_long(F.concat(F.lit("shard:"), F.col("doc_id").cast("string"))) % 16
        ).alias("shard"),
        md5_long(F.concat(F.lit("ord:"), F.col("doc_id").cast("string"))).alias(
            "sort_key"
        ),
    )
    return keyed.groupBy("shard").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("sort_key").alias("first_key"),
        F.max("sort_key").alias("last_key"),
        F.min_by("doc_id", "sort_key").alias("first_doc"),
    )


# The end-to-end curation funnel composes the three constituent
# oracles VERBATIM as subqueries (fetched from REGISTRY at module
# import, after they are defined above) — the composite can only
# pass if each stage still matches its own entry.
def _e2e_sql() -> str:
    from lol_data_pipeline_spark.plans.queries import REGISTRY

    qual = REGISTRY["corpus_quality_filter"].sql
    surv = REGISTRY["corpus_dedup_keep_first"].sql
    decon = REGISTRY["corpus_decontaminate"].sql
    return f"""
    WITH qual AS (
      SELECT doc_id FROM ({qual}) q WHERE q.kept
    ),
    surv AS (
      SELECT doc_id FROM ({surv}) s
    ),
    cont AS (
      SELECT doc_id FROM ({decon}) c WHERE c.contaminated
    ),
    base AS (
      SELECT doc_id, source, n_chars FROM documents
      WHERE source NOT IN ('src0', 'src1')
    )
    SELECT b.source,
           CAST(count(*) AS BIGINT) AS n_in,
           CAST(sum(CASE WHEN q.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
           CAST(sum(CASE WHEN q.doc_id IS NOT NULL AND s.doc_id IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_dedup,
           CAST(sum(CASE WHEN q.doc_id IS NOT NULL AND s.doc_id IS NOT NULL
                          AND c.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_final,
           CAST(sum(CASE WHEN q.doc_id IS NOT NULL AND s.doc_id IS NOT NULL
                          AND c.doc_id IS NULL THEN b.n_chars ELSE 0 END) AS BIGINT)
               AS chars_final
    FROM base b
    LEFT JOIN qual q ON q.doc_id = b.doc_id
    LEFT JOIN surv s ON s.doc_id = b.doc_id
    LEFT JOIN cont c ON c.doc_id = b.doc_id
    GROUP BY 1
    """


@query("corpus_pipeline_e2e", sql=_e2e_sql())
def corpus_pipeline_e2e(spark, sf_dir):
    """The full curation pipeline as ONE funnel report: per source,
    how many documents enter, survive the quality gate, survive
    near-dup keep-first, and survive benchmark decontamination —
    plus the byte mass that reaches training. This is the
    integration proof: a user replacing their curation pipeline runs
    THIS query, and it reuses the three production stage operators
    verbatim (quality filter, component keep-first, 5-gram
    decontamination), so drift in any stage breaks the composite's
    oracle, which itself embeds each stage's oracle as a subquery.

    Stage semantics: each stage flags against the FULL corpus and
    the funnel applies the flags jointly (the standard flag-columns-
    then-select curation shape — deterministic and embarrassingly
    composable). A strictly sequential re-run-per-stage pipeline
    would re-derive dup components on the shrinking corpus; at 100 TB
    nobody does that — stages are computed once, as here, and the
    keep-first choice inside a dup group is id-minimal, independent
    of the other stages' flags.

    Scale: the three stage frames are doc-id keyed and tiny relative
    to the corpus (ids only); the funnel is three LEFT joins on the
    same key — one partitioning carries all of them — and one
    aggregate over sources."""
    base = (
        T(spark, sf_dir, "documents")
        .filter(~F.col("source").isin("src0", "src1"))
        .select("doc_id", "source", "n_chars")
    )
    q = (
        corpus_quality_filter(spark, sf_dir)
        .filter(F.col("kept"))
        .select("doc_id")
        .withColumn("q", F.lit(1))
    )
    s = (
        corpus_dedup_keep_first(spark, sf_dir)
        .select("doc_id")
        .withColumn("s", F.lit(1))
    )
    c = (
        corpus_decontaminate(spark, sf_dir)
        .filter(F.col("contaminated"))
        .select("doc_id")
        .withColumn("c", F.lit(1))
    )
    flags = (
        base.join(q, "doc_id", "left")
        .join(s, "doc_id", "left")
        .join(c, "doc_id", "left")
    )
    keep = F.col("q").isNotNull() & F.col("s").isNotNull() & F.col("c").isNull()
    return flags.groupBy("source").agg(
        F.count("*").cast("long").alias("n_in"),
        F.sum(F.col("q").isNotNull().cast("int")).cast("long").alias("n_quality"),
        F.sum((F.col("q").isNotNull() & F.col("s").isNotNull()).cast("int"))
        .cast("long")
        .alias("n_dedup"),
        F.sum(keep.cast("int")).cast("long").alias("n_final"),
        F.sum(F.when(keep, F.col("n_chars")).otherwise(0)).cast("long").alias(
            "chars_final"
        ),
    )
