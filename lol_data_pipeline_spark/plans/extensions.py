"""North-star extension queries: text analysis, dedup family,
similarity search, multimodal metadata (SURVEY §7 M3).

Registered into the same REGISTRY as the core queries. The oracle
SQL for hash-heavy operators (minhash/simhash) is generated
programmatically so both engines share the exact md5-derived hash
arithmetic (functions.scalar.md5_long).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from lol_data_pipeline_spark.functions import scalar
from lol_data_pipeline_spark.functions import text as tx
from lol_data_pipeline_spark.io import widen as widen_
from lol_data_pipeline_spark.operators import dedup as dd
from lol_data_pipeline_spark.operators import similarity as sim
from lol_data_pipeline_spark.plans.queries import REGISTRY, QuerySpec, T, query

# Shared SQL fragments (DuckDB dialect) mirroring functions/text.py.
SQL_TOKS = "list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '')"
SQL_NORM = (
    "trim(regexp_replace(regexp_replace(lower(text),"
    "'[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"
)


def _sql_shingles(n: int = 3) -> str:
    """Word n-gram shingles of the token list (mirrors
    tx.word_shingles)."""
    return (
        f"list_transform(generate_series(1, greatest(0, len(t) - {n - 1})), "
        f"i -> array_to_string(list_slice(t, i, i + {n - 1}), ' '))"
    )


SQL_MD5_LONG = "CAST(concat('0x', substr(md5({expr}), 1, 15)) AS BIGINT)"


def _sql_stop_hits(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in tx.STOPWORDS[lang])
    return f"len(list_filter(t, x -> x IN ({words})))"


# =========================================================================
# text_* — text analysis over documents
# =========================================================================


@query(
    "text_token_stats",
    sql=f"""
    WITH tok AS (SELECT doc_id, {SQL_TOKS} AS t FROM documents)
    SELECT doc_id,
           CAST(len(t) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(t)) AS BIGINT) AS n_uniq,
           CAST(floor((len(array_to_string(t, '')) * 1.0 / len(t)) * 10000 + 0.5) AS BIGINT) / CAST(10000 AS DOUBLE) AS avg_tok_len
    FROM tok
    """,
)
def text_token_stats(spark, sf_dir):
    """Token counting (whitespace tokenizer): counts + mean token
    length per document. Tokenize ONCE in a sub-projection — the
    three stats reuse the materialized array instead of re-splitting
    the text per expression."""
    d = T(spark, sf_dir, "documents")
    tokd = d.select("doc_id", tx.tokens("text").alias("t"))
    return tokd.select(
        "doc_id",
        F.size("t").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("t")).cast("long").alias("n_uniq"),
        scalar.snap(
            F.length(F.concat_ws("", F.col("t"))) * F.lit(1.0) / F.size("t"), 4
        ).alias("avg_tok_len"),
    )


_BPE_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]+"


@query(
    "text_token_bpe",
    sql=f"""
    WITH tok AS (SELECT doc_id,
                        regexp_extract_all(lower(text), '{_BPE_RE}') AS t
                 FROM documents)
    SELECT doc_id,
           CAST(len(t) AS BIGINT) AS n_pieces,
           CAST(len(list_distinct(t)) AS BIGINT) AS n_uniq_pieces,
           CAST(floor((len(array_to_string(t, '')) * 1.0 / len(t)) * 10000 + 0.5) AS BIGINT) / CAST(10000 AS DOUBLE) AS avg_piece_len
    FROM tok
    """,
)
def text_token_bpe(spark, sf_dir):
    """BPE-ish regex tokenizer: splits lowercased text into letter
    runs / digit runs / punctuation runs (the pre-tokenization pass a
    byte-pair encoder applies before merges). Pattern kept to
    constructs with identical semantics in Java regex (Spark) and
    RE2 (DuckDB), verified char-for-char."""
    tokd = T(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_extract_all(F.lower("text"), F.lit(_BPE_RE), F.lit(0)).alias("t"),
    )
    return tokd.select(
        "doc_id",
        F.size("t").cast("long").alias("n_pieces"),
        F.size(F.array_distinct("t")).cast("long").alias("n_uniq_pieces"),
        scalar.snap(
            F.length(F.concat_ws("", F.col("t"))) * F.lit(1.0) / F.size("t"), 4
        ).alias("avg_piece_len"),
    )


def _sql_lang_case() -> str:
    s = {lang: _sql_stop_hits(lang) for lang in tx.LANG_PRIORITY}
    clauses = []
    for i, lang in enumerate(tx.LANG_PRIORITY[:-1]):
        later = tx.LANG_PRIORITY[i + 1 :]
        cond = " AND ".join(f"{s[lang]} >= {s[o]}" for o in later)
        clauses.append(f"WHEN {cond} THEN '{lang}'")
    return "CASE " + " ".join(clauses) + f" ELSE '{tx.LANG_PRIORITY[-1]}' END"


@query(
    "text_lang_id",
    sql=f"""
    WITH tok AS (SELECT doc_id, {SQL_TOKS} AS t FROM documents)
    SELECT doc_id, {_sql_lang_case()} AS lang_pred
    FROM tok
    """,
)
def text_lang_id(spark, sf_dir):
    """Heuristic language ID: stopword-overlap argmax (n-gram
    heuristic family). Pure CASE chain — no model, no UDF."""
    return T(spark, sf_dir, "documents").select(
        "doc_id", tx.lang_id("text").alias("lang_pred")
    )


@query(
    "text_quality",
    sql=f"""
    WITH tok AS (SELECT doc_id, {SQL_TOKS} AS t FROM documents)
    SELECT doc_id,
           CAST(floor((0.4 * least(1.0, len(t) / 100.0)
                 + 0.3 * least(1.0, (len(array_to_string(t, '')) * 1.0 / len(t)) / 8.0)
                 + 0.3 * ({_sql_stop_hits('en')} * 1.0 / len(t))) * 10000.0) AS BIGINT) AS quality
    FROM tok
    """,
)
def text_quality(spark, sf_dir):
    """Quality scoring: length / token-shape / stopword-ratio
    composite in [0,1], reported ×10⁴ as an integer (see
    functions.text.quality_score for why floor beats round here)."""
    return T(spark, sf_dir, "documents").select(
        "doc_id", tx.quality_score("text").alias("quality")
    )


@query(
    "text_fingerprint",
    sql=f"""
    WITH tok AS (SELECT doc_id, {SQL_TOKS} AS t FROM documents)
    SELECT md5(array_to_string(list_sort(list_distinct(t)), ' ')) AS fp,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS first_doc
    FROM tok
    GROUP BY 1
    """,
)
def text_fingerprint(spark, sf_dir):
    """Document fingerprinting: md5 of the sorted distinct token set
    → cluster key for order-insensitive duplicate detection."""
    d = T(spark, sf_dir, "documents")
    return (
        d.select("doc_id", tx.fingerprint("text").alias("fp"))
        .groupBy("fp")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").cast("long").alias("first_doc"),
        )
    )


# =========================================================================
# dedup_* — deduplication family over documents
# =========================================================================


@query(
    "dedup_exact",
    sql="""
    SELECT md5(text) AS text_md5,
           CAST(min(doc_id) AS BIGINT) AS keep_id,
           CAST(count(*) AS BIGINT) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def dedup_exact(spark, sf_dir):
    """Exact dedup via hash-groupBy (reference A1 generalized to
    content hashing)."""
    return dd.exact_dedup(T(spark, sf_dir, "documents"))


def _sql_jaccard_pairs(thr: float, max_df: int | None = None) -> str:
    """Exact n-gram-Jaccard pair oracle. With ``max_df``, shingles
    whose document frequency exceeds the cap are dropped BEFORE set
    sizes and intersections are computed — mirroring
    dd.ngram_jaccard_pairs, where the cap bounds inverted-index
    candidate generation to Σ(df²) over surviving shingles."""
    sh_src = "sh"
    cap_cte = ""
    if max_df is not None:
        cap_cte = f""",
hot AS (SELECT s FROM sh GROUP BY s HAVING count(*) > {max_df}),
shf AS (SELECT sh.* FROM sh ANTI JOIN hot USING (s))"""
        sh_src = "shf"
    return f"""
WITH tok AS (SELECT doc_id, {SQL_TOKS} AS t FROM documents),
sh AS (SELECT doc_id, unnest(list_distinct({_sql_shingles(3)})) AS s FROM tok){cap_cte},
sizes AS (SELECT doc_id, count(*) AS n FROM {sh_src} GROUP BY 1),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
  FROM {sh_src} a JOIN {sh_src} b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
       CAST(floor((c * 1.0 / (sa.n + sb.n - c)) * 1000000 + 0.5) AS BIGINT) / CAST(1000000 AS DOUBLE) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(floor((c * 1.0 / (sa.n + sb.n - c)) * 1000000 + 0.5) AS BIGINT) / CAST(1000000 AS DOUBLE) >= {thr}
"""


@query("dedup_ngram_jaccard", sql=_sql_jaccard_pairs(0.8, max_df=500))
def dedup_ngram_jaccard(spark, sf_dir):
    """n-gram Jaccard near-dup pairs via inverted-index candidate
    join (never all-pairs), with the hot-shingle cap ON (df > 500
    shingles dropped) so stopword-heavy corpora cannot blow up
    Σ(df²) candidate generation; the oracle models the same cap."""
    return dd.ngram_jaccard_pairs(
        T(spark, sf_dir, "documents"), n=3, threshold=0.8, max_shingle_df=500
    )


@query("dedup_minhash_lsh", sql=_sql_jaccard_pairs(0.8))
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash+LSH (k=16, 8 bands) candidates + exact-Jaccard verify.
    The oracle is the exact all-pairs answer: LSH recall at s≥0.8
    with these parameters is 1-(1-s²)⁸ ≥ 0.9997, and every returned
    pair is verified, so the outputs coincide."""
    return dd.minhash_lsh_pairs(
        T(spark, sf_dir, "documents"), k=16, bands=8, n=3, threshold=0.8
    )


def _sql_simhash_pairs(bits: int = 64, max_hamming: int = 3) -> str:
    """All-pairs SimHash oracle, parameterized over signature width.

    Mirrors dd.simhash_signatures exactly: ONE md5 per token, hex
    chars 1-15 → th (bits 0-59), hex char 16 → th2 (bits 60-63).
    The ±1-vote rule is expressed as its set-bit-count equivalent
    (vote_i ≥ 0 ⇔ 2·cnt_i ≥ n — the packed Spark aggregate unpacks
    to the same counts). Bit 63 is the int64 sign bit, set by adding
    -2^63 (two's complement — both engines share the representation,
    so xor/bit_count agree)."""
    th = SQL_MD5_LONG.format(expr="tok")
    th2 = "CAST(concat('0x', substr(md5(tok), 16, 1)) AS BIGINT)"
    hash2 = ", " + th2 + " AS th2" if bits > 60 else ""

    def _cnt(i: int) -> str:
        src, off = ("th", i) if i < 60 else ("th2", i - 60)
        return f"sum(({src} >> {off}) & 1) AS c{i}"

    vote_cols = ", ".join([_cnt(i) for i in range(bits)] + ["count(*) AS n_tok"])
    sig_terms = [
        f"(CASE WHEN 2 * c{i} >= n_tok THEN CAST({1 << i} AS BIGINT) ELSE 0 END)"
        for i in range(min(bits, 63))
    ]
    if bits == 64:
        sig_terms.append(
            "(CASE WHEN 2 * c63 >= n_tok THEN CAST(-9223372036854775808 AS BIGINT) ELSE 0 END)"
        )
    sig = " + ".join(sig_terms)
    return f"""
WITH tok AS (
  SELECT doc_id, unnest(list_distinct({SQL_TOKS})) AS tok FROM documents
), hashed AS (SELECT doc_id, {th} AS th{hash2} FROM tok),
votes AS (SELECT doc_id, {vote_cols} FROM hashed GROUP BY doc_id),
sigs AS (SELECT doc_id, {sig} AS simhash FROM votes)
SELECT CAST(a.doc_id AS BIGINT) AS id_a, CAST(b.doc_id AS BIGINT) AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
"""


@query("dedup_simhash", sql=_sql_simhash_pairs(64, 3))
def dedup_simhash(spark, sf_dir):
    """SimHash near-dup pairs (64-bit, Hamming ≤ 3) with pigeonhole
    band candidates (4 bands × 16-bit chunks → 65,536 possible
    buckets per band). Band recall at Hamming ≤ 3 with 4 bands is
    exactly 1 (pigeonhole), so the banded result equals the oracle's
    all-pairs scan."""
    out = dd.simhash_pairs(T(spark, sf_dir, "documents"), bits=64, max_hamming=3)
    return out.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.col("hamming").cast("long").alias("hamming"),
    )


# =========================================================================
# ann_* — similarity search over embeddings
# =========================================================================

# The corpus as DOUBLE[] vectors — the `e` CTE the vector oracles read.
E_CTE = "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings)"

SQL_COS = (
    "round(list_inner_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[])) / "
    "(sqrt(list_inner_product(CAST({a} AS DOUBLE[]), CAST({a} AS DOUBLE[]))) * "
    "sqrt(list_inner_product(CAST({b} AS DOUBLE[]), CAST({b} AS DOUBLE[])))), 6)"
)


@query(
    "ann_cosine_topk",
    sql=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 10),
    scored AS (
      SELECT q.query_id, c.vec_id AS match_id,
             {SQL_COS.format(a='q.qvec', b='c.embedding')} AS sim
      FROM q JOIN embeddings c ON c.vec_id <> q.query_id
    ), ranked AS (
      SELECT query_id, match_id, sim,
             CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, match_id) AS BIGINT) AS rank
      FROM scored
    )
    SELECT * FROM ranked WHERE rank <= 5
    """,
)
def ann_cosine_topk(spark, sf_dir):
    """Exact brute-force cosine top-5 for 10 query vectors —
    broadcast the queries, never shuffle the corpus."""
    emb = T(spark, sf_dir, "embeddings")
    return sim.cosine_topk(emb, emb.filter(F.col("vec_id") < 10), k=5).withColumn(
        "rank", F.col("rank").cast("long")
    )


@query(
    "ann_ivf_topk",
    sql=f"""
    WITH cent AS (SELECT vec_id AS cell_id, embedding AS centvec FROM embeddings WHERE vec_id < 8),
    assigned AS (
      SELECT vec_id, embedding, cell_id,
             row_number() OVER (PARTITION BY vec_id
               ORDER BY {SQL_COS.format(a='embedding', b='centvec')} DESC, cell_id) AS rn
      FROM embeddings CROSS JOIN cent
    ), cells AS (SELECT vec_id, embedding, cell_id FROM assigned WHERE rn = 1),
    q AS (SELECT vec_id AS query_id, embedding AS qvec, cell_id AS qcell FROM cells WHERE vec_id < 20),
    scored AS (
      SELECT q.query_id, c.vec_id AS match_id,
             {SQL_COS.format(a='q.qvec', b='c.embedding')} AS sim
      FROM q JOIN cells c ON c.cell_id = q.qcell AND c.vec_id <> q.query_id
    ), ranked AS (
      SELECT query_id, match_id, sim,
             CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, match_id) AS BIGINT) AS rank
      FROM scored
    )
    SELECT * FROM ranked WHERE rank <= 5
    """,
)
def ann_ivf_topk(spark, sf_dir):
    """IVF-bucketed approximate top-k: deterministic seed centroids,
    probe only the query's cell (scanned rows cut by ~n_centroids×)."""
    emb = T(spark, sf_dir, "embeddings")
    return sim.ivf_topk(emb, n_centroids=8, k=5, n_queries=20).withColumn(
        "rank", F.col("rank").cast("long")
    )


@query(
    "ann_lsh_topk",
    sql=f"""
    WITH planes AS (SELECT vec_id AS plane_id, embedding AS pvec FROM embeddings WHERE vec_id < 6),
    codes AS (
      SELECT e.vec_id,
             CAST(sum(CASE WHEN round(list_inner_product(CAST(e.embedding AS DOUBLE[]), CAST(p.pvec AS DOUBLE[])), 6) >= 0
                      THEN CAST(power(2, p.plane_id) AS BIGINT) ELSE 0 END) AS BIGINT) AS code
      FROM embeddings e CROSS JOIN planes p GROUP BY 1
    ),
    q AS (SELECT c.vec_id AS query_id, e.embedding AS qvec, c.code AS qcode
          FROM codes c JOIN embeddings e ON e.vec_id = c.vec_id WHERE c.vec_id < 20),
    scored AS (
      SELECT q.query_id, cd.vec_id AS match_id,
             {SQL_COS.format(a='q.qvec', b='c.embedding')} AS sim
      FROM q JOIN codes cd ON cd.code = q.qcode AND cd.vec_id <> q.query_id
      JOIN embeddings c ON c.vec_id = cd.vec_id
    ), ranked AS (
      SELECT query_id, match_id, sim,
             CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, match_id) AS BIGINT) AS rank
      FROM scored
    )
    SELECT * FROM ranked WHERE rank <= 5
    """,
)
def ann_lsh_topk(spark, sf_dir):
    """Random-hyperplane LSH ANN: 6-bit sign codes bucket the corpus
    (~64 cells); a query scores only its own bucket."""
    emb = T(spark, sf_dir, "embeddings")
    return sim.lsh_topk(emb, n_planes=6, k=5, n_queries=20).withColumn(
        "rank", F.col("rank").cast("long")
    )


_SQL_Q_I8 = (
    "list_transform(CAST({v} AS DOUBLE[]), "
    "x -> greatest(-127, least(127, floor(x * 127.0 + 0.5))))"
)


@query(
    "ann_sq_topk",
    sql=f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qvec,
             {_SQL_Q_I8.format(v='embedding')} AS qint
      FROM embeddings WHERE vec_id < 10
    ), c AS (
      SELECT vec_id AS match_id, embedding AS cvec,
             {_SQL_Q_I8.format(v='embedding')} AS cint
      FROM embeddings
    ), approx AS (
      SELECT q.query_id, c.match_id, q.qvec, c.cvec,
             row_number() OVER (
               PARTITION BY q.query_id
               ORDER BY list_inner_product(q.qint, c.cint) DESC, c.match_id
             ) AS arank
      FROM q JOIN c ON c.match_id <> q.query_id
    ), cand AS (
      SELECT query_id, match_id,
             {SQL_COS.format(a='qvec', b='cvec')} AS sim
      FROM approx WHERE arank <= 20
    ), ranked AS (
      SELECT query_id, match_id, sim,
             CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY sim DESC, match_id
             ) AS BIGINT) AS rank
      FROM cand
    )
    SELECT query_id, match_id, sim, rank FROM ranked WHERE rank <= 5
    """,
)
def ann_sq_topk(spark, sf_dir):
    """Scalar-quantized (int8) ANN: integer-dot candidate ranking
    (4x smaller scan), exact-cosine rescore of the top refine*k=20,
    then top-5. The oracle models the same two-stage algorithm, so
    quantization recall loss cannot cause a mismatch."""
    emb = T(spark, sf_dir, "embeddings")
    return sim.sq_cosine_topk(
        emb, emb.filter(F.col("vec_id") < 10), k=5, refine=4
    ).withColumn("rank", F.col("rank").cast("long"))


@query(
    "ann_cosine_topk_arrow",
    sql=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 10),
    scored AS (
      SELECT q.query_id, c.vec_id AS match_id,
             {SQL_COS.format(a='q.qvec', b='c.embedding')} AS sim
      FROM q JOIN embeddings c ON c.vec_id <> q.query_id
    ), ranked AS (
      SELECT query_id, match_id, sim,
             CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, match_id) AS BIGINT) AS rank
      FROM scored
    )
    SELECT * FROM ranked WHERE rank <= 5
    """,
)
def ann_cosine_topk_arrow(spark, sf_dir):
    """Same exact top-k as ann_cosine_topk but on the Arrow fast
    path: mapInPandas + one BLAS matmul per batch, partition-local
    top-k before the final Q×k shuffle. Same oracle — the two
    implementations must agree."""
    emb = T(spark, sf_dir, "embeddings")
    return sim.cosine_topk_arrow(emb, emb.filter(F.col("vec_id") < 10), k=5).withColumn(
        "rank", F.col("rank").cast("long")
    )


@query(
    "dedup_embedding_cosine",
    sql="""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
             sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                     CAST(embedding AS DOUBLE[]))) AS nrm
      FROM embeddings
    )
    SELECT CAST(a.vec_id AS BIGINT) AS id_a, CAST(b.vec_id AS BIGINT) AS id_b,
           round(list_inner_product(a.e, b.e) / (a.nrm * b.nrm), 6) AS sim
    FROM v a JOIN v b ON a.vec_id < b.vec_id
    WHERE round(list_inner_product(a.e, b.e) / (a.nrm * b.nrm), 6) >= 0.45
    """,
)
def dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-dup pairs. Norms are precomputed per
    vector (O(N)) so each of the O(N²) pairs costs a single dot fold
    — same arithmetic as cosine() (dot/(nrm·nrm)), 3× less work.
    Brute-force all-pairs here; at 100 TB the same verify kernel runs
    only on LSH/IVF candidates (see ann_ivf_topk)."""
    emb = sim.with_norm(T(spark, sf_dir, "embeddings"), "embedding")
    a = emb.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"), F.col("nrm").alias("na")
    )
    b = emb.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"), F.col("nrm").alias("nb")
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                sim.dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6
            ).alias("sim"),
        )
        .filter(F.col("sim") >= 0.45)
    )


# =========================================================================
# mm_* — multimodal columns (binary payload + typed metadata)
# =========================================================================


@query(
    "mm_binary_meta",
    sql="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           sha256(text) AS content_sha,
           CASE WHEN n_chars >= 300 THEN 'large' ELSE 'small' END AS size_class,
           source AS origin
    FROM documents
    """,
)
def mm_binary_meta(spark, sf_dir):
    """Multimodal column plumbing: payloads as opaque binary with
    typed metadata (byte length, content hash, class, origin). The
    decode/feature-extract stage lives in operators/multimodal.py
    (mapInPandas, stubbed decoders)."""
    d = T(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "UTF-8")
    return d.select(
        "doc_id",
        F.octet_length(payload).cast("long").alias("n_bytes"),
        F.sha2(F.col("text").cast("binary"), 256).alias("content_sha"),
        F.when(F.col("n_chars") >= 300, F.lit("large"))
        .otherwise(F.lit("small"))
        .alias("size_class"),
        F.col("source").alias("origin"),
    )


@query(
    "mm_resize",
    sql="""
    SELECT CAST(doc_id AS BIGINT) AS media_id,
           'text/plain' AS mime,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           source || '|resized<512' AS origin
    FROM documents
    """,
)
def mm_resize(spark, sf_dir):
    """Multimodal resize stage: payload rides through untouched, the
    meta struct records the resize target (a real kernel re-encodes
    bytes per Arrow batch behind the same signature —
    operators/multimodal.py:resize_stub raises without a codec). The
    checked output is the metadata contract: id, mime, byte length,
    provenance trail."""
    from lol_data_pipeline_spark.operators import multimodal as mm

    media = mm.attach_binary_payload(T(spark, sf_dir, "documents"))
    resized = mm.resize_stub(media, max_dim=512)
    return resized.select(
        F.col("media_id"),
        F.col("meta.mime").alias("mime"),
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.origin").alias("origin"),
    )


# The synthesize→decode chain round-trips REAL container bytes
# (PNG/BMP/WAV headers, operators/multimodal.py); the oracle predicts
# the same features arithmetically from the id derivations documented
# on synthesize_payload — so a decoder bug (wrong offset, wrong
# endianness) breaks the hash-match.
SQL_MEDIA_FEATURES = """
    SELECT CAST(doc_id AS BIGINT) AS media_id,
           CASE doc_id % 3 WHEN 0 THEN 'image/png'
                           WHEN 1 THEN 'image/bmp'
                           ELSE 'audio/wav' END AS mime,
           CAST(CASE doc_id % 3 WHEN 0 THEN 45 WHEN 1 THEN 54 ELSE 44 END AS BIGINT) AS n_bytes,
           CAST(CASE WHEN doc_id % 3 < 2 THEN 64 + (doc_id * 7) % 1856 END AS INTEGER) AS width,
           CAST(CASE WHEN doc_id % 3 < 2 THEN 64 + (doc_id * 13) % 1016 END AS INTEGER) AS height,
           CAST(CASE WHEN doc_id % 3 < 2 THEN 1
                     ELSE (1 + doc_id % 5) * 4 END AS INTEGER) AS n_frames,
           CAST(CASE WHEN doc_id % 3 = 2 THEN
                  CASE (doc_id // 3) % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000 ELSE 44100 END
                END AS INTEGER) AS sample_rate,
           CAST(CASE WHEN doc_id % 3 = 2 THEN (1 + doc_id % 5) * 1000 END AS BIGINT) AS duration_ms
    FROM documents
"""


@query("mm_extract_features", sql=SQL_MEDIA_FEATURES)
def mm_extract_features(spark, sf_dir):
    """Multimodal decode/feature-extract via Arrow-batched
    mapInPandas with the REAL header-decoder tier: payloads are
    spec-conforming PNG/BMP/WAV bytes and parse_media_header reads
    width/height/sample-rate/duration back out of them (struct
    unpacking per the container specs — no codec library). The
    oracle cross-checks the round trip arithmetically. Fused
    synthesize+decode in ONE mapInPandas (r7): the chained form
    crossed the Arrow boundary twice per row just to hand the payload
    bytes back to Python."""
    from lol_data_pipeline_spark.operators import multimodal as mm

    return mm.synthesize_and_extract(T(spark, sf_dir, "documents"))


@query(
    "mm_frame_sample",
    sql=f"""
    WITH f AS ({SQL_MEDIA_FEATURES})
    SELECT media_id,
           CAST(unnest(generate_series(0, greatest(n_frames - 1, 0), 5)) AS INTEGER) AS frame_idx
    FROM f
    """,
)
def mm_frame_sample(spark, sf_dir):
    """Full multimodal chain: synthesize real container bytes →
    mapInPandas header decode → frame sampling (sequence + explode,
    one row per sampled frame index) — all stages oracle-checked."""
    from lol_data_pipeline_spark.operators import multimodal as mm

    media = mm.synthesize_media(T(spark, sf_dir, "documents"))
    feats = mm.extract_media_features(media)
    return mm.frame_sample(feats, every_n=5)


# The mock fetcher (sources/riot.py:164) is pure md5 arithmetic, so
# DuckDB can recompute the ENTIRE flattened pipeline output from
# scratch: regenerate the 200 match ids (offset = int(md5('puuid_1')
# [:6],16)*1000 = 1783685000), rederive h = int(md5(id)[:8],16), and
# apply the same modular formulas the fetcher uses. This upgrades the
# one rows-only registry entry to a full value-hash oracle.
_SQL_INGEST = """
WITH ids AS (
  SELECT printf('NA1_%010d', r.range + 1783685000) AS match_id
  FROM range(0, 200) r
),
hashed AS (
  SELECT match_id,
         ('0x' || substr(md5(match_id), 1, 8))::BIGINT AS h
  FROM ids
  WHERE ('0x' || substr(md5(match_id), 1, 8))::BIGINT % 23 <> 0
),
base AS (
  SELECT match_id, h,
         1600000000000 + (h % 100000) * 60000 AS base_ms,
         (h % 17 = 0) AS legacy,
         ((1 - h) % 97 + 97) % 97 AS pi
  FROM hashed
)
SELECT
  match_id AS matchId,
  base_ms AS gameCreation,
  strftime(epoch_ms(base_ms), '%Y-%m-%d') AS gameCreationDate,
  CASE WHEN legacy THEN 1800000 + (h % 600) * 1000
       ELSE 1800 + h % 600 END AS gameDuration,
  CASE WHEN legacy THEN 'ms' ELSE 's' END AS gameDurationUnits,
  base_ms + 60000 AS gameStartTimestamp,
  strftime(epoch_ms(base_ms + 60000), '%Y-%m-%d') AS gameStartTimestampDate,
  CASE WHEN legacy THEN NULL
       ELSE base_ms + 60000 + (1800 + h % 600) * 1000 END AS gameEndTimestamp,
  CASE WHEN legacy THEN NULL
       ELSE strftime(epoch_ms(base_ms + 60000 + (1800 + h % 600) * 1000),
                     '%Y-%m-%d') END AS gameEndTimestampDate,
  4300000000 + h AS gameId,
  CASE WHEN h % 3 = 0 THEN 'ARAM' ELSE 'CLASSIC' END AS gameMode,
  'teambuilder-match-' || h AS gameName,
  'MATCHED_GAME' AS gameType,
  '13.' || (h % 24) || '.' || (h % 500) || '.' || (h % 9000) AS gameVersion,
  CAST(CASE WHEN h % 3 = 0 THEN 12 ELSE 11 END AS INTEGER) AS mapId,
  CASE WHEN pi < 10 THEN 'puuid_1' END AS participant_puuid,
  CASE WHEN pi < 10 THEN 'champ_' || ((h + pi) % 160) END AS participant_championName,
  CAST(CASE WHEN pi >= 10 THEN NULL WHEN pi < 5 THEN 100 ELSE 200 END
       AS INTEGER) AS participant_teamId,
  CASE WHEN pi < 10 THEN (h + pi) % 2 = 0 END AS participant_win,
  CAST(CASE WHEN pi < 10 THEN (h + pi) % 20 END AS INTEGER) AS participant_kills,
  CAST(CASE WHEN pi < 10 THEN (h + 3 * pi) % 15 END AS INTEGER) AS participant_deaths,
  CAST(CASE WHEN pi < 10 THEN (h + 7 * pi) % 30 END AS INTEGER) AS participant_assists,
  CAST(CASE WHEN pi < 10 THEN 8000 + (h + pi) % 9000 END AS INTEGER)
      AS participant_goldEarned,
  CASE WHEN pi < 10 THEN ((h + pi) % 100) / 10.0 END AS participant_challenges_kda,
  CAST(CASE WHEN pi < 10 THEN 300 + (h + pi) % 200 END AS DOUBLE)
      AS participant_challenges_goldPerMinute
FROM base
"""


@query("ref_ingest_pipeline", sql=_SQL_INGEST)
def ref_ingest_pipeline(spark, sf_dir):
    """The reference's full E1 lifecycle (SURVEY §3): paginated ID
    scan → distinct → rate-limited fan-out fetch (mock) → status
    filter → declared-schema parse → recursive flatten. One lazy
    DataFrame plan, no driver-side loops."""
    from lol_data_pipeline_spark.sources import riot

    ids = riot.match_id_scan(spark, "puuid_1", ["draft", "blind"], num_matches=200)
    # n_tasks = fetch parallelism (the reference ran 20 concurrent
    # requests, pipeline.py:126); 16 tasks keeps that order of
    # parallelism while halving mapInPandas scheduling overhead vs 4.
    responses = riot.fetch_match_details(ids.select("match_id").distinct(), n_tasks=16)
    return riot.flatten_matches(riot.parse_responses(responses), puuid="puuid_1")


def _sql_components_cte(iters: int = 4) -> tuple[str, str]:
    """Shared WITH-clause for the min-label propagation oracles
    (dedup_components, corpus_leakage_safe_split): the exact
    capped-Jaccard pair graph (same pair CTE as dedup_ngram_jaccard,
    proven hash-equal to the Spark side) plus ``iters`` unrolled
    label rounds. Returns (with_clause, final_label_cte_name)."""
    rounds = []
    prev = "l0"
    for i in range(1, iters + 1):
        cur = f"l{i}"
        rounds.append(f""",
{cur} AS (
  SELECT l.v, least(l.label, coalesce(m.nl, l.label)) AS label
  FROM {prev} l LEFT JOIN (
    SELECT e.dst AS nv, min(p.label) AS nl
    FROM edges e JOIN {prev} p ON p.v = e.src GROUP BY 1
  ) m ON m.nv = l.v
)""")
        prev = cur
    with_clause = f"""
WITH pairs AS ({_sql_jaccard_pairs(0.8, max_df=500)}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs
),
l0 AS (SELECT DISTINCT src AS v, src AS label FROM edges){''.join(rounds)}"""
    return with_clause, prev


def _sql_components(iters: int = 4) -> str:
    """Min-label propagation oracle, unrolled ``iters`` rounds over
    the exact capped-Jaccard pair graph (the same pair CTE as
    dedup_ngram_jaccard — proven hash-equal to the Spark side)."""
    with_clause, prev = _sql_components_cte(iters)
    return f"""{with_clause},
sizes AS (SELECT label AS component, CAST(count(*) AS BIGINT) AS group_size
          FROM {prev} GROUP BY 1)
SELECT CAST(l.v AS BIGINT) AS doc_id,
       CAST(l.label AS BIGINT) AS keep_id,
       s.group_size,
       (l.v != l.label) AS drop
FROM {prev} l JOIN sizes s ON s.component = l.label
"""


def _sql_leakage_split(iters: int = 4, eval_pct: int = 10) -> str:
    """Leakage-safe split oracle: every document's split is decided
    by a hash of its near-dup COMPONENT representative (singletons
    are their own component), so near-duplicates can never straddle
    train/eval."""
    with_clause, prev = _sql_components_cte(iters)
    comp = "CAST(coalesce(l.label, d.doc_id) AS BIGINT)"
    h = SQL_MD5_LONG.format(
        expr=f"concat('split:', CAST({comp} AS VARCHAR))"
    )
    return f"""{with_clause}
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       {comp} AS component,
       CASE WHEN {h} % 100 < {eval_pct} THEN 'eval' ELSE 'train' END AS split
FROM documents d LEFT JOIN {prev} l ON l.v = d.doc_id
"""


@query("dedup_components", sql=_sql_components(4))
def dedup_components(spark, sf_dir):
    """Transitive closure of the near-dup pair graph: connected
    components by 4 rounds of synchronous min-label propagation
    (operators/graph.py), emitting each member's canonical keep id,
    group size, and drop verdict. Closes the A~B~C chains that
    pairwise dedup output misses. Integer-only dataflow — the oracle
    unrolls the identical 4 rounds symbolically."""
    from lol_data_pipeline_spark.operators import graph as g

    pairs = dd.ngram_jaccard_pairs(
        T(spark, sf_dir, "documents"), n=3, threshold=0.8, max_shingle_df=500
    )
    return g.dedup_groups(pairs, iters=4)


@query("corpus_leakage_safe_split", sql=_sql_leakage_split(4, eval_pct=10))
def corpus_leakage_safe_split(spark, sf_dir):
    """Leakage-safe train/eval split — the holdout step a training
    pipeline must run AFTER near-dup detection: splitting by document
    id leaks whenever two near-duplicates land on opposite sides (the
    eval set silently contains paraphrases of training docs), so the
    split key is the near-dup COMPONENT representative instead — a
    doc and all its transitive near-duplicates hash to the same side
    by construction. Singletons (docs in no near-dup pair) are their
    own component. The per-component hash is the same deterministic,
    partitioning-independent md5 decision used by
    corpus_sample_stratified — the same corpus splits identically on
    1 executor or 1000, and re-running after appending new documents
    never reassigns an existing component (stable holdout).

    Scale: reuses the bucketed pair generation and 4-round min-label
    propagation of dedup_components (Σ(block²) candidates, never
    all-pairs), then one LEFT join documents↔labels on doc_id and a
    pure projection — no new shuffle class. The no-straddle property
    is asserted in tests/test_corpus.py."""
    from lol_data_pipeline_spark.functions.scalar import md5_long
    from lol_data_pipeline_spark.operators import graph as g

    d = T(spark, sf_dir, "documents")
    pairs = dd.ngram_jaccard_pairs(d, n=3, threshold=0.8, max_shingle_df=500)
    cc = g.connected_components(pairs, iters=4).withColumnRenamed(
        "component", "cc_label"
    )
    comp = F.coalesce(F.col("cc_label"), F.col("doc_id"))
    split = F.when(
        F.pmod(
            md5_long(F.concat(F.lit("split:"), comp.cast("string"))), F.lit(100)
        )
        < 10,
        F.lit("eval"),
    ).otherwise(F.lit("train"))
    return (
        d.join(cc, "doc_id", "left")
        .select(
            "doc_id",
            comp.alias("component"),
            split.alias("split"),
        )
    )


def km_dist_sql(x: str = "e.x") -> str:
    """d²(x, c.c) as the oracles spell it — |x|² − 2⟨x, c⟩ + |c|² with
    list_inner_product folds, bit-equal to the Spark side's
    ``dot(x, x) - 2 * dot(x, c) + _cc(c)``. The one distance of the
    kmeans assignment, the IVF probe and the compaction oracles."""
    return (
        f"list_inner_product({x}, {x}) - 2 * list_inner_product({x}, c.c) "
        "+ list_inner_product(c.c, c.c)"
    )


def kmeans_ctes(
    k: int,
    assigns: int,
    updates: int,
    dim: int = 64,
    train_where: str = "",
    assign_src: str = "e",
) -> list[str]:
    """Lloyd-iteration oracle CTE chain mirroring
    operators/clustering.py: ``e`` (corpus cast to DOUBLE[]), ``c0``
    (deterministic lowest-id seeds), then assignment CTEs ``a{i}``
    (argmin by (d², cid) with list_inner_product distances —
    bit-equal to the Spark zip_with fold) for i < assigns, each
    followed while i < updates by the fixed-point integer centroid
    update ``s{i}``/``c{i+1}`` (order-independent BIGINT sums,
    identical double rescale s / n / 2^20). ONE definition of the
    oracle's training chain, shared by `cluster_kmeans` (assigns =
    iters, updates = iters − 1 → final assignment ``a{iters-1}``)
    and the kmeans-trained IVF builds in plans/round9.py (assigns =
    rounds + 1, updates = rounds → cells = ``a{rounds}``).

    ``train_where``: when set, seeds and every TRAINING assignment
    (``a{i}`` for i < assigns − 1) read from the filtered sample
    ``es`` and only the FINAL assignment reads the full corpus —
    the sampled-codebook index build of the 100 TB path.

    ``assign_src``: CTE name the FINAL assignment reads (default
    ``e``, the corpus). The incremental index-maintenance oracle
    (plans/round10.py) splices its own corpus∪new-batch CTE into the
    chain and points the final assignment at it — training stays on
    the original sample (the codebook is FROZEN), only the
    assignment set widens."""
    dist = km_dist_sql()
    seed_src = "es" if train_where else "e"
    ctes = [
        E_CTE,
    ]
    if train_where:
        ctes.append(f"es AS (SELECT * FROM e WHERE {train_where})")
    ctes.append(f"""c0 AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, x AS c
  FROM (SELECT * FROM {seed_src} ORDER BY vec_id LIMIT {k})
)""")
    prev = "c0"
    for i in range(assigns):
        a = f"a{i}"
        src = seed_src if (train_where and i < assigns - 1) else assign_src
        src_clause = "e" if src == "e" else f"{src} e"
        ctes.append(f"""{a} AS (
  SELECT vec_id, x, cid AS cluster FROM (
    SELECT e.vec_id, e.x, c.cid,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY {dist}, c.cid) AS rn
    FROM {src_clause} CROSS JOIN {prev} c
  ) WHERE rn = 1
)""")
        if i < updates:
            ctes.append(f"""s{i} AS (
  SELECT cluster, p.pos,
         sum(CAST(floor(x[p.pos] * 1048576.0) AS BIGINT)) AS sv,
         count(*) AS n
  FROM {a}, (SELECT unnest(generate_series(1, {dim})) AS pos) p
  GROUP BY 1, 2
)""")
            ctes.append(f"""c{i + 1} AS (
  SELECT cluster AS cid, list(sv / n / 1048576.0 ORDER BY pos) AS c
  FROM s{i} GROUP BY 1
)""")
            prev = f"c{i + 1}"
    return ctes


def _sql_kmeans(k: int = 8, iters: int = 2, dim: int = 64) -> str:
    """Final-assignment oracle: iters − 1 update rounds then assign
    (see :func:`kmeans_ctes`)."""
    ctes = kmeans_ctes(k, assigns=iters, updates=iters - 1, dim=dim)
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT vec_id, CAST(cluster AS BIGINT) AS cluster FROM a{iters - 1}"
    )


@query("cluster_kmeans", sql=_sql_kmeans(8, 2, 64))
def cluster_kmeans(spark, sf_dir):
    """Deterministic k-means (k=8, 2 Lloyd rounds) over the
    embeddings table — the semantic-clustering stage of corpus
    curation (cluster-then-dedup / diversity sampling). Assignment is
    a pure projection against broadcast literal centroids; the
    centroid update is a fixed-point integer aggregate, making an
    iterative float algorithm hash-checkable across engines (see
    operators/clustering.py)."""
    from lol_data_pipeline_spark.operators import clustering as cl

    return cl.kmeans_assign(T(spark, sf_dir, "embeddings"), k=8, iters=2, dim=64)


# =========================================================================
# text_search_* — full-text relevance (BM25)
# =========================================================================

_BM25_TERMS = ["spark", "hash", "window"]
_BM25_K1, _BM25_B, _BM25_K = 1.2, 0.75, 10


def _sql_bm25(
    terms: list[str], k: int, k1: float, b: float,
    src: str = "documents", head: str = "",
) -> str:
    """``src``/``head`` let the BM25-index maintenance oracles
    (plans/round11.py) point the identical scoring chain at a
    corpus∪batch or corpus∖doomed CTE."""
    from lol_data_pipeline_spark.operators.search import bm25_weight_sql

    nt = len(terms)
    tf_cols = ", ".join(
        f"CAST(len(list_filter(t, x -> x = '{t_}')) AS DOUBLE) AS tf{i}"
        for i, t_ in enumerate(terms)
    )
    df_cols = ", ".join(
        f"CAST(sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df{i}"
        for i in range(nt)
    )
    any_hit = " OR ".join(f"tf{i} > 0" for i in range(nt))
    score = " + ".join(bm25_weight_sql(i, k1, b) for i in range(nt))
    hits = " + ".join(f"(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END)" for i in range(nt))
    return f"""
    WITH {head}tok AS (SELECT doc_id, {SQL_TOKS} AS t FROM {src}),
    pd AS (SELECT doc_id, len(t) AS dl, {tf_cols} FROM tok),
    scal AS (
      SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl, {df_cols}
      FROM pd
    ),
    sc AS (
      SELECT doc_id,
             round({score}, 6) AS score,
             CAST({hits} AS BIGINT) AS n_terms_hit
      FROM pd CROSS JOIN scal WHERE {any_hit}
    ),
    ranked AS (
      SELECT doc_id, score, n_terms_hit,
             CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank
      FROM sc
    )
    SELECT doc_id, score, n_terms_hit, rank FROM ranked WHERE rank <= {k}
    """


@query(
    "text_search_bm25",
    sql=_sql_bm25(_BM25_TERMS, _BM25_K, _BM25_K1, _BM25_B),
)
def text_search_bm25(spark, sf_dir):
    """Okapi BM25 top-10 for a fixed 3-term query over documents —
    the keyword-retrieval side of corpus curation (see
    operators/search.py for the inverted-index layout: postings are
    built only for the query's terms, the corpus is never shuffled,
    and global doc-count/avgdl ride a 1-row scalar broadcast)."""
    from lol_data_pipeline_spark.operators import search as srch

    return srch.bm25_topk(
        T(spark, sf_dir, "documents"),
        _BM25_TERMS,
        k=_BM25_K,
        k1=_BM25_K1,
        b=_BM25_B,
    )


# =========================================================================
# text_ngram_topk — corpus-wide frequent n-gram mining
# =========================================================================


@query(
    "text_ngram_topk",
    sql=f"""
    WITH tok AS (SELECT doc_id, {SQL_TOKS} AS t FROM documents),
    grams AS (SELECT unnest({_sql_shingles(3)}) AS gram FROM tok),
    counted AS (
      SELECT gram, CAST(count(*) AS BIGINT) AS n_occurrences
      FROM grams GROUP BY 1
    ),
    ranked AS (
      SELECT gram, n_occurrences,
             CAST(row_number() OVER (ORDER BY n_occurrences DESC, gram) AS BIGINT) AS rank
      FROM counted
    )
    SELECT gram, n_occurrences, rank FROM ranked WHERE rank <= 20
    """,
)
def text_ngram_topk(spark, sf_dir):
    """Corpus-wide top-20 word trigrams by occurrence count (NOT
    per-doc-distinct — frequency mining, the n-gram-statistics pass
    of corpus analysis). One shingle pass, one hash-aggregate; the
    final top-20 is a TakeOrdered over the aggregated gram counts."""
    docs = T(spark, sf_dir, "documents")
    grams = tx.word_shingle_arrays(
        widen_(docs), 3, "text", keep=["doc_id"], distinct=False
    ).select(F.explode_outer("sh_arr").alias("gram")).filter(F.col("gram").isNotNull())
    counted = grams.groupBy("gram").agg(F.count("*").cast("long").alias("n_occurrences"))
    # the trigram vocabulary is data-sized at 100 TB — rank via
    # TakeOrderedAndProject + k×k derivation, never a global window
    from lol_data_pipeline_spark.operators.relational import global_topk_ranked

    return global_topk_ranked(counted, [("n_occurrences", True), ("gram", False)], 20)


# =========================================================================
# text_repetition — Gopher-style intra-document repetition metrics
# =========================================================================


@query(
    "text_repetition",
    sql=f"""
    WITH tok AS (SELECT doc_id, {SQL_TOKS} AS t FROM documents),
    g AS (SELECT doc_id, {_sql_shingles(2)} AS garr FROM tok),
    base AS (
      SELECT doc_id,
             CAST(len(garr) AS BIGINT) AS n_ngrams,
             CAST(len(list_distinct(garr)) AS BIGINT) AS n_distinct
      FROM g
    ),
    ex AS (SELECT doc_id, unnest(garr) AS gram FROM g),
    cnt AS (SELECT doc_id, gram, count(*) AS c FROM ex GROUP BY 1, 2),
    top AS (SELECT doc_id, max(c) AS maxc FROM cnt GROUP BY 1)
    SELECT b.doc_id, b.n_ngrams, b.n_distinct,
           CAST(CASE WHEN b.n_ngrams > 0
                THEN floor((1.0 - CAST(b.n_distinct AS DOUBLE) / b.n_ngrams) * 10000)
                ELSE 0 END AS BIGINT) AS dup_frac_x1e4,
           CAST(CASE WHEN b.n_ngrams > 0
                THEN floor(CAST(coalesce(t.maxc, 0) AS DOUBLE) / b.n_ngrams * 10000)
                ELSE 0 END AS BIGINT) AS top_share_x1e4
    FROM base b LEFT JOIN top t ON t.doc_id = b.doc_id
    """,
)
def text_repetition(spark, sf_dir):
    """Intra-document repetition metrics — the Gopher/MassiveText
    repetition quality filters, per doc over word bigrams: duplicate
    n-gram fraction (1 − distinct/total) and top-n-gram share
    (occurrences of the most frequent bigram / total). Fixed-point
    ×10⁴ floor for cross-engine determinism (same rationale as
    quality_score).

    Scale shape: ONE shingling pass (tokenize-once barrier) feeding
    ONE explode_outer (keeps zero-bigram docs), then two stacked
    doc_id-keyed aggregates — (doc_id, gram) counts, then per-doc
    total/distinct/max derived from those counts in the same
    pipeline. Both shuffles carry map-side-combined partials; no
    second shingling branch, no join, no windows, no UDFs, nothing
    driver-side."""
    grams = tx.word_shingle_arrays(
        widen_(T(spark, sf_dir, "documents")),
        2,
        "text",
        keep=["doc_id"],
        distinct=False,
    )
    cnt = (
        grams.select("doc_id", F.explode_outer("sh_arr").alias("gram"))
        .groupBy("doc_id", "gram")
        .agg(F.count("*").alias("c"))
    )
    real = F.col("gram").isNotNull()
    per_doc = cnt.groupBy("doc_id").agg(
        F.sum(F.when(real, F.col("c")).otherwise(0)).cast("long").alias("n_ngrams"),
        F.sum(F.when(real, 1).otherwise(0)).cast("long").alias("n_distinct"),
        F.max(F.when(real, F.col("c"))).alias("maxc"),
    )
    n = F.col("n_ngrams").cast("double")
    return per_doc.select(
        "doc_id",
        "n_ngrams",
        "n_distinct",
        F.when(
            F.col("n_ngrams") > 0,
            F.floor((1.0 - F.col("n_distinct").cast("double") / n) * 10000),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("dup_frac_x1e4"),
        F.when(
            F.col("n_ngrams") > 0,
            F.floor(F.coalesce(F.col("maxc"), F.lit(0)).cast("double") / n * 10000),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("top_share_x1e4"),
    )


# =========================================================================
# emb_random_projection — Johnson–Lindenstrauss ±1 dim reduction
# =========================================================================


def _rp_sign(j: int, i: int) -> int:
    """Deterministic ±1 from md5 — the projection matrix is a seed
    artifact shared verbatim by both engines (embedded as literals
    in the Spark expression AND the oracle SQL)."""
    import hashlib

    return 1 if int(hashlib.md5(f"rp:{j}:{i}".encode()).hexdigest()[:2], 16) % 2 == 0 else -1


def _rp_balanced(terms: list[str]) -> str:
    while len(terms) > 1:
        terms = [
            f"({terms[i]} + {terms[i + 1]})" if i + 1 < len(terms) else terms[i]
            for i in range(0, len(terms), 2)
        ]
    return terms[0]


def _rp_cols(out_dim: int, in_dim: int, element: str) -> list[str]:
    """One balanced-sum SQL string per output dim; ``element`` is a
    format template for the i-th input element (engine-specific
    indexing). The SAME balanced association is emitted for both
    engines — IEEE addition is order-sensitive, so matching the tree
    shape (not just the term set) is what makes the hash compare
    exact."""
    cols = []
    for j in range(out_dim):
        terms = []
        for i in range(in_dim):
            sgn = "" if _rp_sign(j, i) > 0 else "-"
            terms.append(f"({sgn}{element.format(i=i)})")
        cols.append(f"round({_rp_balanced(terms)}, 6) AS rp{j}")
    return cols


@query(
    "emb_random_projection",
    sql=(
        "SELECT vec_id, "
        + ", ".join(
            _rp_cols(16, 64, "CAST(embedding[{i} + 1] AS DOUBLE)")
        )
        + " FROM embeddings"
    ),
)
def emb_random_projection(spark, sf_dir):
    """Johnson–Lindenstrauss dimensionality reduction 64→16 with a
    deterministic ±1 sign matrix (md5-seeded, embedded as literals in
    both engines' expressions): y_j = Σ_i s_ji·x_i. Pure per-row
    projection — zero shuffles at any scale; the reduced table is
    what the ANN family probes when 64-d is too wide to scan. Each
    output dim is ONE parsed SQL expression (see dedup.py on py4j
    plan-build cost) with a balanced addition tree mirrored exactly
    in the oracle (IEEE addition is order-sensitive)."""
    emb = T(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        *[F.expr(c) for c in _rp_cols(16, 64, "CAST(embedding[{i}] AS DOUBLE)")],
    )


# =========================================================================
# graph_pagerank — iterative graph analytics (fixed-point integer)
# =========================================================================

_PR_ITERS = 3


def _sql_pagerank(iters: int) -> str:
    """Unrolled fixed-point PageRank oracle (see operators/graph.py
    pagerank — identical integer recurrence, `//` ≡ Spark DIV for
    the all-positive operands here)."""
    from lol_data_pipeline_spark.operators.graph import _PR_DAMP_PM, _PR_SCALE

    ctes = [
        """e AS (
  SELECT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst,
         CAST(count(*) AS BIGINT) AS w
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY 1, 2
  UNION ALL
  SELECT l.l_suppkey * 2 + 1 AS src, o.o_custkey * 2 AS dst,
         CAST(count(*) AS BIGINT) AS w
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY 1, 2
)""",
        "outw AS (SELECT src, sum(w) AS out_w FROM e GROUP BY 1)",
        "e2 AS (SELECT e.src, e.dst, e.w, o.out_w FROM e JOIN outw o USING (src))",
        "nodes AS (SELECT DISTINCT src AS v FROM e)",
        "nn AS (SELECT count(*) AS n FROM nodes)",
        f"r0 AS (SELECT v, n, CAST({_PR_SCALE} // n AS BIGINT) AS r FROM nodes CROSS JOIN nn)",
    ]
    prev = "r0"
    for i in range(1, iters + 1):
        ctes.append(
            f"""c{i} AS (
  SELECT e2.dst, sum((p.r * e2.w * {_PR_DAMP_PM}) // (e2.out_w * 1000)) AS s
  FROM e2 JOIN {prev} p ON p.v = e2.src GROUP BY 1
)"""
        )
        ctes.append(
            f"""r{i} AS (
  SELECT b.v, b.n,
         CAST((150 * {_PR_SCALE}) // (1000 * b.n) + coalesce(c.s, 0) AS BIGINT) AS r
  FROM r0 b LEFT JOIN c{i} c ON c.dst = b.v
)"""
        )
        prev = f"r{i}"
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
SELECT v AS node, r AS rank_micro, round(r / {float(_PR_SCALE)}, 6) AS rank
FROM {prev}"""
    )


@query("graph_pagerank", sql=_sql_pagerank(_PR_ITERS))
def graph_pagerank(spark, sf_dir):
    """Weighted PageRank (3 rounds, damping 0.85) over the
    customer↔supplier transaction graph (edge weight = lineitems
    traded, both directions so no dangling mass; node id = 2·custkey
    / 2·suppkey+1). Fixed-point integer recurrence — bit-identical
    across engines and partition orders; see operators/graph.py."""
    from lol_data_pipeline_spark.operators.graph import pagerank

    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = T(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            (F.col("o_custkey") * 2).alias("c_node"),
            (F.col("l_suppkey") * 2 + 1).alias("s_node"),
        )
        .agg(F.count("*").cast("long").alias("w"))
    )
    edges = pairs.select(
        F.col("c_node").alias("src"), F.col("s_node").alias("dst"), "w"
    ).unionAll(
        pairs.select(F.col("s_node").alias("src"), F.col("c_node").alias("dst"), "w")
    )
    return pagerank(edges, iters=_PR_ITERS)


# =========================================================================
# ann_pq_topk — product-quantization ANN
# =========================================================================

_PQ_M, _PQ_DSUB, _PQ_NCENT, _PQ_K, _PQ_REFINE = 8, 8, 16, 5, 4


def _pq_xhat_ctes(src: str = "embeddings", xcol: str = "", emit: str = "xhat") -> str:
    """The raw-vector PQ encode→reconstruct oracle block (codebook =
    the lowest-``_PQ_NCENT`` vectors, per-subspace argmin by (d², j),
    xhat = concatenated chosen sub-centroids), shared by the
    ann_pq_topk oracle and every IVF+PQ oracle in plans/round9–11 so
    they cannot drift — the same one-definition rule the Spark side
    gets from pq_encode. (ann_ivfpq_residual_topk's block is structurally
    different — it encodes residuals and reconstructs c + r̂ — and
    stays separate.)

    ``src``/``xcol`` point the encode at another CTE whose
    vector column is already DOUBLE[]; ``emit="codes"`` ends the
    block with the m argmin code ids per vector (``codes``) instead
    of the reconstruction — the PERSISTED index form the
    index-maintenance oracle (plans/round10.py) re-derives."""
    xexpr = (
        "CAST(x.embedding AS DOUBLE[])" if src == "embeddings" else f"x.{xcol}"
    )
    xhat_tail = """xhat AS (
      SELECT vec_id AS match_id, flatten(list(cs ORDER BY s)) AS xh
      FROM chosen GROUP BY 1
    )"""
    codes_tail = """codes AS (
      SELECT vec_id, array_to_string(list(j ORDER BY s), ',') AS codes
      FROM chosen GROUP BY 1
    )"""
    if emit == "xhat":
        pick, tail = "cs", xhat_tail
    elif emit == "codes":
        pick, tail = "j", codes_tail
    else:  # "both": the compaction oracle needs the reconstruction
        # (distances) AND the stored codes (disk content) at once
        pick, tail = "cs, j", xhat_tail + ",\n    " + codes_tail
    return f"""cents AS (
      SELECT vec_id AS j, CAST(embedding AS DOUBLE[]) AS c
      FROM embeddings WHERE vec_id < {_PQ_NCENT}
    ),
    sub AS (SELECT unnest(generate_series(0, {_PQ_M - 1})) AS s),
    cs2 AS (
      SELECT s.s, c.j, list_slice(c.c, s.s * {_PQ_DSUB} + 1, s.s * {_PQ_DSUB} + {_PQ_DSUB}) AS cs,
             list_inner_product(
               list_slice(c.c, s.s * {_PQ_DSUB} + 1, s.s * {_PQ_DSUB} + {_PQ_DSUB}),
               list_slice(c.c, s.s * {_PQ_DSUB} + 1, s.s * {_PQ_DSUB} + {_PQ_DSUB})
             ) AS cc
      FROM cents c CROSS JOIN sub s
    ),
    xs2 AS (
      SELECT x.vec_id, s.s,
             list_slice({xexpr}, s.s * {_PQ_DSUB} + 1, s.s * {_PQ_DSUB} + {_PQ_DSUB}) AS xsl
      FROM {src} x CROSS JOIN sub s
    ),
    d AS (
      SELECT xs2.vec_id, xs2.s, c.j, c.cs,
             list_inner_product(xs2.xsl, xs2.xsl)
               - 2 * list_inner_product(xs2.xsl, c.cs) + c.cc AS d2
      FROM xs2 JOIN cs2 c ON c.s = xs2.s
    ),
    chosen AS (
      SELECT vec_id, s, {pick} FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, j) AS rn FROM d
      ) WHERE rn = 1
    ),
    {tail}"""




@query(
    "ann_pq_topk",
    sql=f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 10
    ),
    {_pq_xhat_ctes()},
    approx AS (
      SELECT qq.query_id, h.match_id, qq.qvec,
             row_number() OVER (
               PARTITION BY qq.query_id
               ORDER BY list_inner_product(CAST(qq.qvec AS DOUBLE[]), h.xh) DESC,
                        h.match_id
             ) AS arank
      FROM q qq JOIN xhat h ON h.match_id <> qq.query_id
    ),
    cand AS (
      SELECT a.query_id, a.match_id,
             {SQL_COS.format(a='a.qvec', b='c.embedding')} AS sim
      FROM approx a JOIN embeddings c ON c.vec_id = a.match_id
      WHERE a.arank <= {_PQ_REFINE * _PQ_K}
    ),
    ranked AS (
      SELECT query_id, match_id, sim,
             CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY sim DESC, match_id
             ) AS BIGINT) AS rank
      FROM cand
    )
    SELECT query_id, match_id, sim, rank FROM ranked WHERE rank <= {_PQ_K}
    """,
)
def ann_pq_topk(spark, sf_dir):
    """Product-quantization ANN (m=8 subspaces × 16 centroids — the
    256×-compression candidate scan), asymmetric-distance candidate
    ranking via reconstructed vectors, exact-cosine rescore of
    refine·k. Codebook = deterministic seed vectors (embeddings
    0..15, the kmeans seeding convention); the oracle re-derives the
    identical codebook from the table, so encode→rank→rescore is
    reproduced end-to-end. See operators/similarity.py:pq_cosine_topk."""
    emb = T(spark, sf_dir, "embeddings")
    return sim.pq_cosine_topk(
        emb,
        emb.filter(F.col("vec_id") < 10),
        sim.pq_seeds(emb, _PQ_NCENT),
        m=_PQ_M,
        dsub=_PQ_DSUB,
        k=_PQ_K,
        refine=_PQ_REFINE,
    )


_TRI_MIN_CO = 5  # strong-tie threshold: >= this many shared orders

_SQL_TRIANGLES = f"""
WITH co AS (
  SELECT u, v FROM (
    SELECT a.l_suppkey AS u, b.l_suppkey AS v, count(*) AS m
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
    GROUP BY 1, 2
  ) WHERE m >= {_TRI_MIN_CO}
),
deg AS (
  SELECT x AS node, count(*) AS d
  FROM (SELECT u AS x FROM co UNION ALL SELECT v FROM co)
  GROUP BY 1
),
oriented AS (
  SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v) THEN u ELSE v END AS src,
         CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v) THEN v ELSE u END AS dst,
         CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v) THEN dv.d ELSE du.d END AS ddst
  FROM co JOIN deg du ON du.node = u JOIN deg dv ON dv.node = v
),
wedges AS (
  SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
  FROM oriented e1 JOIN oriented e2
    ON e1.src = e2.src
   AND (e1.ddst < e2.ddst OR (e1.ddst = e2.ddst AND e1.dst < e2.dst))
),
tri AS (
  SELECT x.u, x.v, x.w
  FROM wedges x JOIN oriented o ON o.src = x.v AND o.dst = x.w
)
SELECT corner AS node, CAST(count(*) AS BIGINT) AS n_triangles
FROM (
  SELECT u AS corner FROM tri
  UNION ALL SELECT v FROM tri
  UNION ALL SELECT w FROM tri
)
GROUP BY 1
"""


@query("graph_triangles", sql=_SQL_TRIANGLES)
def graph_triangles(spark, sf_dir):
    """Per-node triangle counts over the STRONG supplier
    co-occurrence graph (pairs sharing >= _TRI_MIN_CO orders — the
    standard noise-edge threshold; untresholded, every supplier pair
    eventually shares SOME order and the graph converges to a clique,
    where exact triangle counting is Θ(n³) no matter the plan), via
    degree-ordered edge orientation: every edge points from its
    (degree, id)-smaller endpoint, so each triangle is generated by
    exactly one apex and the closing edge is a pure EQUI-join (the
    OR-of-orientations a naive formulation needs would degrade to a
    nested-loop join). At scale the orientation bounds wedge fan-out
    by the oriented out-degree (O(sqrt(m)) after orientation — the
    classic bound), and every stage is a hash join/aggregate keyed on
    vertex ids.

    Plan notes: ``oriented`` is persisted — it feeds BOTH wedge sides
    and the closing-edge probe, and without the persist the whole
    co-occurrence + degree pipeline runs three times; corners come
    from ONE explode pass over the triangle set, not a 3-way
    unionAll of (recomputed) projections. Both fixes were measured
    off the r5 bench (41.6 s -> see PERF_NOTES.md)."""
    from lol_data_pipeline_spark.caching import tracked_persist

    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    # Co-occurrence via ONE groupBy(orderkey) + in-array pair
    # generation instead of a lineitem self-join: same pair multiset
    # (collect_list mirrors the join's row semantics, so the oracle's
    # join form stays exact), but one scan and one exchange instead
    # of two of each — measured 1.72 → 1.38 s for this stage at
    # sf0.1. Fan-out is bounded by lineitems-per-order² (≤ ~50),
    # never data-sized.
    co = (
        li.groupBy("l_orderkey")
        .agg(F.collect_list("l_suppkey").alias("ss"))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ss, x -> filter("
                    "transform(ss, y -> named_struct('u', x, 'v', y)),"
                    " p -> p.u < p.v)))"
                )
            ).alias("p")
        )
        .groupBy(F.col("p.u").alias("u"), F.col("p.v").alias("v"))
        .agg(F.count("*").alias("m"))
        .filter(F.col("m") >= _TRI_MIN_CO)
        .drop("m")
    )
    deg = (
        co.select(F.col("u").alias("node"))
        .unionAll(co.select("v"))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    with_deg = (
        co.join(deg.select(F.col("node").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("d").alias("dv")), "v")
    )
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = tracked_persist(
        with_deg.select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
            F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("ddst"),
        )
    )
    e1 = oriented.alias("e1")
    e2 = oriented.alias("e2")
    wedges = e1.join(
        e2,
        (F.col("e1.src") == F.col("e2.src"))
        & (
            (F.col("e1.ddst") < F.col("e2.ddst"))
            | (
                (F.col("e1.ddst") == F.col("e2.ddst"))
                & (F.col("e1.dst") < F.col("e2.dst"))
            )
        ),
    ).select(
        F.col("e1.src").alias("u"), F.col("e1.dst").alias("v"), F.col("e2.dst").alias("w")
    )
    closing = oriented.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    tri = wedges.join(closing, ["v", "w"])
    corners = tri.select(
        F.explode(F.array("u", "v", "w")).alias("node")
    )
    return corners.groupBy("node").agg(F.count("*").cast("long").alias("n_triangles"))


def fuzzy_name_pairs(names: DataFrame, max_dist: int = 3) -> DataFrame:
    """Fuzzy string-similarity self-join (edit distance ≤ max_dist)
    over a 1-column ``name`` frame, BLOCKED on (head noun, length
    band): candidate pairs are generated within blocks only — cost
    Σ(block²) over blocks, never all-pairs — then verified with exact
    Levenshtein. The blocking-then-verify shape is the string twin of
    the MinHash/SimHash candidate pattern.

    The length band de-skews the block key WITHOUT losing pairs:
    edit distance ≤ d implies |len(a) − len(b)| ≤ d, so with band
    width d+1 a surviving pair sits in the same or an adjacent band.
    One side keeps its own band; the other explodes to {band−1, band,
    band+1}, so every qualifying pair matches on exactly ONE
    (noun, band) key — result identical to noun-only blocking, but a
    hot head noun now spreads over its length spectrum instead of
    hitting one quadratic reducer."""
    bw = max_dist + 1
    keyed = names.select(
        "name",
        F.element_at(F.split("name", " "), -1).alias("noun"),
        F.floor(F.length("name") / bw).alias("lband"),
    )
    a = keyed.select("name", "noun", F.col("lband").alias("band")).alias("a")
    b = keyed.select(
        "name",
        "noun",
        F.explode(
            F.array(F.col("lband") - 1, F.col("lband"), F.col("lband") + 1)
        ).alias("band"),
    ).alias("b")
    return (
        a.join(
            b,
            (F.col("a.noun") == F.col("b.noun"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.name") < F.col("b.name")),
        )
        .withColumn("dist", F.levenshtein(F.col("a.name"), F.col("b.name")))
        .filter(F.col("dist") <= max_dist)
        .select(
            F.col("a.name").alias("name_a"),
            F.col("b.name").alias("name_b"),
            F.col("dist").cast("int").alias("dist"),
        )
    )


@query(
    "dedup_fuzzy_names",
    sql="""
    WITH names AS (
      SELECT DISTINCT p_name AS name,
             list_extract(string_split(p_name, ' '), -1) AS blk
      FROM part
    )
    SELECT a.name AS name_a, b.name AS name_b,
           CAST(levenshtein(a.name, b.name) AS INTEGER) AS dist
    FROM names a JOIN names b
      ON a.blk = b.blk AND a.name < b.name
    WHERE levenshtein(a.name, b.name) <= 3
    """,
)
def dedup_fuzzy_names(spark, sf_dir):
    """Fuzzy edit-distance join over distinct part names via
    ``fuzzy_name_pairs`` — (head noun, length band) blocking then
    exact-Levenshtein verify. The oracle blocks on the noun alone:
    both forms return the SAME pairs (band blocking only prunes pairs
    the distance filter would drop), so the oracle stays exact while
    the Spark plan carries the de-skewed key."""
    names = T(spark, sf_dir, "part").select(F.col("p_name").alias("name")).distinct()
    return fuzzy_name_pairs(names, max_dist=3)


# =========================================================================
# dedup_substring — shared-window substring dedup (Lee et al. 2022 shape)
# =========================================================================

_SUB_N = 8  # window width in tokens


@query(
    "dedup_substring",
    sql=f"""
    WITH tok AS (SELECT doc_id, {SQL_TOKS} AS t FROM documents),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, greatest(0, len(t) - {_SUB_N - 1})),
               i -> array_to_string(list_slice(t, i, i + {_SUB_N - 1}), ' '))) AS s
      FROM tok
    ),
    pairs AS (
      SELECT doc_id,
             {SQL_MD5_LONG.format(expr='w')} AS h
      FROM (SELECT doc_id, unnest(s) AS w FROM sh)
    ),
    base AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows FROM pairs GROUP BY 1),
    dup AS (SELECT h FROM pairs GROUP BY h HAVING count(*) >= 2),
    cnt AS (
      SELECT p.doc_id, CAST(count(*) AS BIGINT) AS n_dup
      FROM pairs p JOIN dup USING (h) GROUP BY 1
    )
    SELECT b.doc_id, b.n_windows,
           CAST(coalesce(c.n_dup, 0) AS BIGINT) AS n_dup_windows,
           CAST(floor((coalesce(c.n_dup, 0) * 1.0 / b.n_windows) * 10000 + 0.5) AS BIGINT) / CAST(10000 AS DOUBLE) AS dup_ratio
    FROM base b LEFT JOIN cnt c USING (doc_id)
    """,
)
def dedup_substring(spark, sf_dir):
    """Substring-level dedup signal (the "Deduplicating Training Data
    Makes Language Models Better" granularity): for every document,
    the fraction of its distinct 8-token windows that also occur in
    at least one OTHER document. Doc-level near-dup (minhash/simhash)
    misses a copied paragraph inside an otherwise-unique page; this
    posting-list plan catches exactly that.

    Plan shape — posting lists, never pair generation:
    shingle (one pass, array-sliced lambda over a materialized token
    array) → (doc, window-hash) pairs → [1] per-doc window counts,
    [2] hashes seen in ≥2 rows, [3] join back on hash and count per
    doc. The pairs are NOT re-deduplicated: the shingle array is
    already distinct-per-doc, so (doc, h) rows are unique up to
    60-bit hash collisions — a dropDuplicates here was measured as a
    full extra shuffle of the pairs table (5.2 s → see PERF_NOTES)
    buying nothing (a collision is the same md5 arithmetic on both
    engines, so even that case stays parity-exact; it could only
    mark ~2⁻⁶⁰-probability windows dup). Cost is linear in total
    windows plus the duplicated-posting join — a hot boilerplate
    window fans out to its |docs| rows, bounded by the pairs table
    itself, never quadratic. The wide token/shingle arrays are
    dropped before the first shuffle: only (doc_id, h) longs move.

    At 100 TB the same plan holds: the groupBy(h) is a partial-agg
    count on 16-byte rows and AQE splits any residual hot-hash
    partition. Reference has no text surface — north-star (SURVEY §7
    M3); the cross-doc window-hash index is also how the suffix-array
    variant's candidate stage is approximated in one shuffle.
    """
    docs = T(spark, sf_dir, "documents")
    return dd.substring_dup_stats(docs, n=_SUB_N)


# =========================================================================
# emb_knn_graph — LSH-bucketed k-NN graph over the whole corpus
# =========================================================================


# The kNN graph's fixed shape (LSH planes, edges per source), shared by
# every graph-family entry and oracle.
_GRAPH_PLANES = 6
_GRAPH_K = 3


def knn_codes_sql(src: str) -> str:
    """SELECT of (vec_id, code) over a (vec_id, x DOUBLE[]) CTE
    ``src``: bit j = rounded sign of the dot with plane j."""
    return f"""SELECT a.vec_id,
             CAST(sum(CASE WHEN round(list_inner_product(a.x, p.pvec), 6) >= 0
                      THEN CAST(power(2, p.plane_id) AS BIGINT) ELSE 0 END) AS BIGINT) AS code
      FROM {src} a CROSS JOIN planes p GROUP BY 1"""


def knn_edge_ctes(
    src: str, affected: str = "SELECT DISTINCT code FROM gcodes"
) -> list[str]:
    """The kNN edge-construction oracle chain over a (vec_id, x
    DOUBLE[]) CTE ``src`` — the DuckDB twin of
    operators/similarity.bucket_edges. ``planes`` are the first
    ``_GRAPH_PLANES`` ORIGINAL corpus vectors (always from ``e``: maintenance codes
    new batches against frozen planes, so the planes never come from
    a widened set); ``gcodes`` are the rounded-sign bucket codes;
    ``gaffected`` (the SELECT ``affected``, default every bucket)
    restricts ``gscored``, the within-bucket cosine pairs; ``granked``
    ranks them per source, so ``granked WHERE rank <= _GRAPH_K`` IS
    the edge list. The caller defines ``e`` (:data:`E_CTE`) and
    ``src``."""
    cos = (
        "round(list_inner_product(va.x, vb.x) / "
        "(sqrt(list_inner_product(va.x, va.x)) * "
        "sqrt(list_inner_product(vb.x, vb.x))), 6)"
    )
    return [
        f"planes AS (SELECT vec_id AS plane_id, x AS pvec FROM e WHERE vec_id < {_GRAPH_PLANES})",
        f"gcodes AS (\n      {knn_codes_sql(src)}\n    )",
        f"gaffected AS ({affected})",
        f"""gscored AS (
      SELECT a.code, a.vec_id AS src_id, b.vec_id AS dst_id, {cos} AS sim
      FROM gcodes a
      JOIN gaffected f ON a.code = f.code
      JOIN gcodes b ON b.code = a.code AND b.vec_id <> a.vec_id
      JOIN {src} va ON va.vec_id = a.vec_id
      JOIN {src} vb ON vb.vec_id = b.vec_id
    )""",
        """granked AS (
      SELECT code, src_id, dst_id, sim,
             CAST(row_number() OVER (PARTITION BY src_id ORDER BY sim DESC, dst_id) AS BIGINT) AS rank
      FROM gscored
    )""",
    ]


@query(
    "emb_knn_graph",
    sql="WITH "
    + ",\n".join([E_CTE] + knn_edge_ctes("e"))
    + f"""
    SELECT src_id, dst_id, sim, rank FROM granked WHERE rank <= {_GRAPH_K}
    """,
)
def emb_knn_graph(spark, sf_dir):
    """k-NN graph construction: every vector's top-3 cosine
    neighbours among vectors sharing its 6-bit LSH code — the
    all-nodes-are-queries twin of `ann_lsh_topk`, built as a bucket
    SELF-join (Σ bucket², never N²) because the "query" side is the
    whole corpus and cannot broadcast. The oracle models the same
    buckets, so parity is exact. The resulting edge list is the
    input to graph-based dedup clustering and offline k-NN-graph ANN
    indexes."""
    emb = T(spark, sf_dir, "embeddings")
    return sim.knn_graph(emb, n_planes=_GRAPH_PLANES, k=_GRAPH_K)


# =========================================================================
# dedup_incremental_minhash — daily-batch probe against the at-rest index
# =========================================================================


@query(
    "dedup_incremental_minhash",
    sql=f"""
    WITH tok AS (SELECT doc_id, {SQL_TOKS} AS t FROM documents),
    sh AS (SELECT doc_id, unnest(list_distinct({_sql_shingles(3)})) AS s FROM tok),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    common AS (
      SELECT a.doc_id AS id_new, b.doc_id AS id_index, count(*) AS c
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
      GROUP BY 1, 2
    )
    SELECT CAST(id_new AS BIGINT) AS id_new, CAST(id_index AS BIGINT) AS id_index,
           CAST(floor((c * 1.0 / (sa.n + sb.n - c)) * 1000000 + 0.5) AS BIGINT) / CAST(1000000 AS DOUBLE) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = id_new
    JOIN sizes sb ON sb.doc_id = id_index
    WHERE CAST(floor((c * 1.0 / (sa.n + sb.n - c)) * 1000000 + 0.5) AS BIGINT) / CAST(1000000 AS DOUBLE) >= 0.8
    """,
)
def dedup_incremental_minhash(spark, sf_dir):
    """Incremental dedup: the 20% of docs with doc_id % 5 = 0 play
    the incoming daily batch, probed against the other 80% as the
    existing corpus index — (new, existing) near-dup pairs only, via
    `dd.minhash_lsh_probe` (banded LSH candidates, exact-Jaccard
    verify). The oracle is the exact asymmetric all-pairs answer;
    LSH recall at s≥0.8 with k=16/8 bands is ≥0.9997 and every pair
    is verified, so outputs coincide (same argument as
    `dedup_minhash_lsh`, recall-tested on the fixture). At scale the
    index side's buckets live AT REST bucketed by band key, so the
    daily run signs only the batch — see the operator docstring."""
    return dd.minhash_lsh_probe(
        T(spark, sf_dir, "documents"),
        is_new=(F.pmod(F.col("doc_id"), F.lit(5)) == 0),
        k=16,
        bands=8,
        n=3,
        threshold=0.8,
    )


# =========================================================================
# text_tfidf_topterms — per-document characteristic terms
# =========================================================================


@query(
    "text_tfidf_topterms",
    sql=f"""
    WITH tok AS (SELECT doc_id, {SQL_TOKS} AS t FROM documents),
    tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest(t) AS term FROM tok)
      GROUP BY 1, 2
    ),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tf),
    scored AS (
      SELECT f.doc_id, f.term, f.tf,
             round(f.tf * ln((nd.n_docs + 1.0) / (d.df + 1.0)), 6) AS score
      FROM tf f JOIN dfreq d USING (term) CROSS JOIN nd
    ), ranked AS (
      SELECT doc_id, term, tf, score,
             CAST(row_number() OVER (PARTITION BY doc_id
               ORDER BY score DESC, term) AS BIGINT) AS rank
      FROM scored
    )
    SELECT * FROM ranked WHERE rank <= 3
    """,
)
def text_tfidf_topterms(spark, sf_dir):
    """Each document's 3 most characteristic terms by TF-IDF
    (score = tf · ln((N+1)/(df+1)), ranked on the ROUNDED score with
    term-name tiebreak so both engines order identically) — the
    keyword-extraction pass between curation and indexing, and the
    document-side twin of BM25's query-side weighting.

    Plan: one tokenize+explode → (doc, term) counts (partial-agg
    shuffle); document frequencies aggregate FROM the tf table (no
    second corpus scan — df = row count per term since tf rows are
    unique per (doc, term)); the corpus doc count is a 1-row scalar
    broadcast; the df join is a plain equi-join on term (hot terms
    partial-aggregate before the exchange and AQE splits residual
    skew); top-3 per doc is a keyed window — WindowGroupLimit prunes
    per partition, never a global sort. At 100 TB a production run
    persists tf/df bucketed by term; every stage here is that build
    plus one probe."""
    d = T(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(tx.tokens("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    from lol_data_pipeline_spark.caching import tracked_persist

    tf = tracked_persist(tf)  # feeds df-aggregate, N-scalar AND the join
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    nd = tf.agg(F.count_distinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(nd))
        .select(
            "doc_id",
            "term",
            "tf",
            F.round(
                F.col("tf") * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)), 6
            ).alias("score"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "term", "tf", "score", "rank")
    )


# =========================================================================
# emb_label_centroids — per-class mean embedding (fixed-point exact)
# =========================================================================

_CENT_SCALE = 1 << 20
_CENT_DIM = 64


@query(
    "emb_label_centroids",
    sql=f"""
    WITH comp AS (
      SELECT label, pos,
             sum(CAST(floor(v * {_CENT_SCALE}.0) AS BIGINT)) AS s,
             count(*) AS n
      FROM (SELECT label, unnest(CAST(embedding AS DOUBLE[])) AS v,
                   generate_subscripts(embedding, 1) AS pos
            FROM embeddings
            WHERE embedding IS NOT NULL AND len(embedding) = {_CENT_DIM})
      GROUP BY 1, 2
    )
    SELECT CAST(label AS INTEGER) AS label,
           CAST(n AS BIGINT) AS n,
           CAST(pos - 1 AS BIGINT) AS pos,
           CAST(floor((CAST(s AS DOUBLE) / n / CAST({_CENT_SCALE} AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) / CAST(1000000 AS DOUBLE) AS value
    FROM comp
    """,
)
def emb_label_centroids(spark, sf_dir):
    """Per-label mean embedding — the class-prototype computation
    behind nearest-centroid classification, embedding-drift
    monitoring, and k-means seeding from labeled data. Components
    accumulate in FIXED-POINT integers (floor(v·2²⁰) summed as
    longs, divided back at the end — the same trick as
    `cluster_kmeans`): integer partial sums merge associatively and
    bit-identically on ANY partitioning or engine, where a double
    sum's last ulp depends on reduction order. ONE hash aggregate
    with 64 sum states per label (state is O(labels × dim), never
    O(rows)).

    Registry output is LONG format — ``(label, n, pos, value)`` rows
    via posexplode — because the driver's comparator canonicalizes
    results in pandas with a sort over every column, and list cells
    are unhashable there (the r07 ``TypeError: unhashable type:
    'list'`` red). The packed-array form stays available as the
    ``label_centroids`` operator; this entry proves its values."""
    from lol_data_pipeline_spark.operators.clustering import label_centroids

    cent = label_centroids(
        T(spark, sf_dir, "embeddings"), dim=_CENT_DIM, scale=_CENT_SCALE
    )
    return cent.select(
        "label", "n", F.posexplode("centroid").alias("pos", "value")
    ).select("label", "n", F.col("pos").cast("long").alias("pos"), "value")


# =========================================================================
# ann_range_search — radius (threshold) similarity search
# =========================================================================


@query(
    "ann_range_search",
    sql=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 10)
    SELECT q.query_id, c.vec_id AS match_id,
           {SQL_COS.format(a='q.qvec', b='c.embedding')} AS sim
    FROM q JOIN embeddings c ON c.vec_id <> q.query_id
    WHERE {SQL_COS.format(a='q.qvec', b='c.embedding')} >= 0.3
    """,
)
def ann_range_search(spark, sf_dir):
    """Radius search: ALL corpus vectors within a cosine-similarity
    threshold of each query — the other half of the similarity-search
    API surface (top-k answers "best k"; range answers "everything
    this close", the shape dedup thresholds and recall evaluation
    need). Result size is data-dependent, so there is NO top-k window
    at all — a pure filter after scoring, nothing to single-partition.

    Layout mirrors the brute-force top-k: queries broadcast with
    precomputed norms, the corpus is scanned once and never shuffled
    (with_norm moves the per-pair norm folds to once per row). At
    100 TB the candidate-pruned variants (IVF cell probe / LSH
    buckets, both implemented) bound the scan; the exact form is the
    recall baseline and the oracle shape."""
    emb = T(spark, sf_dir, "embeddings")
    q = sim.with_norm(
        emb.filter(F.col("vec_id") < 10), "embedding", "qnrm"
    ).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"), "qnrm"
    )
    c = sim.with_norm(sim.widen(emb), "embedding", "cnrm")
    return (
        c.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("match_id"),
            F.round(
                sim.dot(F.col("qvec"), F.col("embedding"))
                / (F.col("qnrm") * F.col("cnrm")),
                6,
            ).alias("sim"),
        )
        .filter(F.col("sim") >= 0.3)
    )


# =========================================================================
# text_hashing_vectorizer — feature-hashing doc vectors (no vocabulary)
# =========================================================================

_HV_DIM = 16


@query(
    "text_hashing_vectorizer",
    sql=f"""
    WITH tok AS (SELECT doc_id, unnest({SQL_TOKS}) AS t FROM documents),
    h AS (SELECT doc_id, {SQL_MD5_LONG.format(expr='t')} % {_HV_DIM} AS b FROM tok)
    SELECT doc_id,
           {", ".join(f"CAST(sum(CASE WHEN b = {d} THEN 1 ELSE 0 END) AS BIGINT) AS v{d}" for d in range(_HV_DIM))},
           CAST(count(*) AS BIGINT) AS n_tokens
    FROM h GROUP BY doc_id
    """,
)
def text_hashing_vectorizer(spark, sf_dir):
    """Feature-hashing (hashing-trick) document vectors: each token
    lands in bucket md5(token) mod {dim}, per-doc bucket counts form
    a fixed-width vector — text vectorization with NO vocabulary,
    NO model, and NO fitting pass (the sklearn HashingVectorizer /
    Vowpal Wabbit trick). The workhorse for cheap similarity /
    clustering features over corpora too large to build a vocab for:
    the output schema is known before reading a single row, so the
    operator is embarrassingly shardable.

    Plan: ONE explode + ONE hash-aggregate with {dim} conditional
    sums (state O(dim) per doc, partial-agg before the only
    shuffle). Exact integer counts — bit-identical on any
    partitioning and engine by construction. Buckets use the same
    md5_long the dedup family shares with its oracles.

    Output is WIDE scalar columns ``v0..v15`` rather than one array
    column: the driver's pandas canonicalizer cannot sort list cells
    (the r07 ``unhashable type: 'list'`` red), and for a fixed,
    compile-time dim the column-per-bucket layout is also what the
    downstream feature store wants (prunable, stats-able)."""
    from lol_data_pipeline_spark.functions.scalar import md5_long

    d = T(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tx.tokens("text")).alias("t")).select(
        "doc_id", F.pmod(md5_long("t"), F.lit(_HV_DIM)).alias("b")
    )
    sums = toks.groupBy("doc_id").agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("n_tokens"),
        *[
            F.expr(f"CAST(sum(CASE WHEN b = {i} THEN 1 ELSE 0 END) AS BIGINT)").alias(
                f"v{i}"
            )
            for i in range(_HV_DIM)
        ],
    )
    return sums.select(
        "doc_id", *[f"v{i}" for i in range(_HV_DIM)], "n_tokens"
    )


_ULM_VOCAB_K = 512


@query(
    "text_unigram_loglik",
    sql=f"""
    WITH tok AS (
      SELECT doc_id, unnest({SQL_TOKS}) AS term FROM documents
    ),
    tf AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY 1),
    total AS (SELECT CAST(count(*) AS BIGINT) AS tot FROM tok),
    vocab AS (SELECT term, cnt FROM tf ORDER BY cnt DESC, term LIMIT {_ULM_VOCAB_K}),
    lp AS (
      SELECT term,
             CAST(round(ln(CAST(cnt AS DOUBLE) / tot) * 1000000) AS BIGINT) AS lp
      FROM vocab, total
    ),
    oov AS (
      SELECT CAST(round(ln(1.0 / tot) * 1000000) AS BIGINT) AS lp_oov FROM total
    )
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(coalesce(l.lp, o.lp_oov)) AS BIGINT) AS sum_lp_e6,
           CAST(floor((CAST(sum(coalesce(l.lp, o.lp_oov)) AS DOUBLE) / count(*) / CAST(1000000 AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) / CAST(1000000 AS DOUBLE) AS avg_lp
    FROM tok t LEFT JOIN lp l ON t.term = l.term CROSS JOIN oov o
    GROUP BY 1
    """,
)
def text_unigram_loglik(spark, sf_dir):
    """CCNet-style language-model quality scoring: per-document mean
    log-likelihood under a corpus unigram LM with a bounded top-K
    vocabulary (K=512) and an out-of-vocabulary floor of ln(1/total).
    Low (very negative) scores flag gibberish / boilerplate docs —
    the classic perplexity filter of LLM curation pipelines, reduced
    to its feasible-at-scale unigram form.

    Scale design: the term-frequency table can be data-sized, but the
    MODEL is capped at K rows via the partition-local-heap top-k
    (global_topk_ranked — no global sort, no unpartitioned window)
    and broadcast to the scoring join; the corpus total is a 1-row
    scalar broadcast. Per-token log-probs are frozen to fixed-point
    micro-nats (round(ln·10⁶) as BIGINT) BEFORE the per-doc sum, so
    the aggregate is an exact integer — deterministic under any
    partitioning and identical across engines (float log-prob sums
    would differ by summation order). Docs with zero tokens have no
    likelihood and drop out (mirrored by the oracle's inner unnest).

    No reference parity — north-star text-analysis extension
    (SURVEY §7 M3)."""
    from lol_data_pipeline_spark.caching import tracked_persist
    from lol_data_pipeline_spark.operators.relational import global_topk_ranked

    d = T(spark, sf_dir, "documents")
    tok = tracked_persist(
        d.select("doc_id", F.explode(tx.tokens("text")).alias("term"))
    )
    tf = tok.groupBy("term").agg(F.count("*").cast("long").alias("cnt"))
    total = tok.agg(F.count("*").cast("long").alias("tot"))
    vocab = global_topk_ranked(tf, [("cnt", True), ("term", False)], _ULM_VOCAB_K)
    lp = vocab.join(F.broadcast(total)).select(
        "term",
        F.expr("CAST(round(ln(CAST(cnt AS DOUBLE) / tot) * 1000000) AS BIGINT)").alias(
            "lp"
        ),
    )
    scored = (
        tok.join(F.broadcast(lp), "term", "left")
        .join(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum(
                F.coalesce(
                    F.col("lp"),
                    F.expr("CAST(round(ln(1.0 / tot) * 1000000) AS BIGINT)"),
                )
            ).alias("sum_lp_e6"),
        )
    )
    return scored.select(
        "doc_id",
        "n_tokens",
        "sum_lp_e6",
        F.expr(
            "CAST(floor((CAST(sum_lp_e6 AS DOUBLE) / n_tokens / CAST(1000000 AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) / CAST(1000000 AS DOUBLE)"
        ).alias("avg_lp"),
    )


@query(
    "ann_recall_eval",
    sql=f"""
    WITH qe AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 20),
    se AS (
      SELECT qe.query_id, c.vec_id AS match_id,
             {SQL_COS.format(a='qe.qvec', b='c.embedding')} AS sim
      FROM qe JOIN embeddings c ON c.vec_id <> qe.query_id
    ),
    re AS (
      SELECT query_id, match_id,
             row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, match_id) AS rank
      FROM se
    ),
    exact AS (SELECT query_id, match_id FROM re WHERE rank <= 5),
    cent AS (SELECT vec_id AS cell_id, embedding AS centvec FROM embeddings WHERE vec_id < 8),
    assigned AS (
      SELECT vec_id, embedding, cell_id,
             row_number() OVER (PARTITION BY vec_id
               ORDER BY {SQL_COS.format(a='embedding', b='centvec')} DESC, cell_id) AS rn
      FROM embeddings CROSS JOIN cent
    ),
    cells AS (SELECT vec_id, embedding, cell_id FROM assigned WHERE rn = 1),
    qi AS (SELECT vec_id AS query_id, embedding AS qvec, cell_id AS qcell FROM cells WHERE vec_id < 20),
    si AS (
      SELECT qi.query_id, c.vec_id AS match_id,
             {SQL_COS.format(a='qi.qvec', b='c.embedding')} AS sim
      FROM qi JOIN cells c ON c.cell_id = qi.qcell AND c.vec_id <> qi.query_id
    ),
    ri AS (
      SELECT query_id, match_id,
             row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, match_id) AS rank
      FROM si
    ),
    approx AS (SELECT query_id, match_id FROM ri WHERE rank <= 5)
    SELECT e.query_id,
           CAST(count(*) AS BIGINT) AS n_exact,
           CAST(sum(CASE WHEN a.match_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
           round(CAST(sum(CASE WHEN a.match_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS recall_at_5
    FROM exact e LEFT JOIN approx a
      ON a.query_id = e.query_id AND a.match_id = e.match_id
    GROUP BY 1
    """,
)
def ann_recall_eval(spark, sf_dir):
    """Recall@5 of the IVF approximate index against brute-force
    ground truth, per query — the evaluation harness every ANN
    deployment needs before trusting an index ("measure, don't
    guess": an IVF cell that silently drops true neighbors shows up
    HERE, not in the index entry's own oracle, which only pins the
    algorithm as specified).

    Both sides reuse the production operators verbatim
    (operators/similarity.cosine_topk and .ivf_topk on the same
    20-query set), so this entry breaks if either implementation
    drifts. The comparison itself is a (queries×k)-row left join —
    trivially small. At 100 TB the exact side is the expensive leg;
    the standard practice this entry models is running it over a
    fixed evaluation sample (here: query ids < 20) rather than the
    full corpus, which is exactly what keeps the eval affordable at
    any scale. No reference parity — north-star similarity-search
    extension (SURVEY §7 M3)."""
    emb = T(spark, sf_dir, "embeddings")
    exact = sim.cosine_topk(emb, emb.filter(F.col("vec_id") < 20), k=5)
    approx = sim.ivf_topk(emb, n_centroids=8, k=5, n_queries=20)
    e = exact.select("query_id", "match_id")
    a = approx.select(
        F.col("query_id").alias("aq"),
        F.col("match_id").alias("am"),
        F.lit(1).alias("hit"),
    )
    return (
        e.join(a, (F.col("query_id") == F.col("aq")) & (F.col("match_id") == F.col("am")), "left")
        .groupBy("query_id")
        .agg(
            F.count("*").cast("long").alias("n_exact"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("n_hit"),
            F.expr(
                "round(CAST(sum(CASE WHEN hit IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)"
                " / count(*), 6)"
            ).alias("recall_at_5"),
        )
    )
