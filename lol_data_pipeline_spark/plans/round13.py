"""Round-13 entries: the n-gram decontamination index gets the full
maintenance lifecycle every other artifact family already has (r12
verdict item 3 — the ingest-gate story has the corpus growing daily,
so a daily batch must upsert its 5-gram hashes rather than
re-fingerprint the corpus): upsert / delete / stats plus the
four-epoch streaming replay twin.

Reference parity: the reference (zwilson999/lol_data_pipeline) has no
corpus-curation surface — these extend the LLM-training-data pipeline
family (SURVEY.md §2's "beyond the reference" mandate). Spark-first:
DataFrame ops over the persisted artifact; driver-side collects are
bounded by construction (≤ nb partition values, 1-row counts)."""

from __future__ import annotations

from pyspark.sql import functions as F

from lol_data_pipeline_spark.plans.queries import T, query
from lol_data_pipeline_spark.plans.round9 import _cloned_docs

# the decontamination corpus split shared with corpus_decontaminate /
# corpus_decontaminate_served: src0/src1 are the benchmark, the rest
# is the training corpus the index holds
_NG_BENCH = "('src0', 'src1')"
_NG_IDX_WHERE = f"source NOT IN {_NG_BENCH}"
_NUP_SHIFT = 300000  # clone ids for the contaminated-ingest batch
_NDEL_LO, _NDEL_HI = 5, 30  # the take-down id range


def _sql_decon(
    head: str = "",
    src: str = "documents",
    train_cond: str = f"sh.source NOT IN {_NG_BENCH}",
) -> str:
    """corpus_decontaminate's oracle chain (distinct word 5-gram
    overlap ≥ 3 vs the src0/src1 benchmark) parameterized over the
    corpus CTE and the training-side predicate, so the maintenance
    oracles can point the IDENTICAL derivation at corpus∪batch /
    corpus∖doomed — the _sql_chunk_clean pattern one round down."""
    from lol_data_pipeline_spark.plans.extensions import SQL_TOKS

    return f"""
    WITH {head}tok AS (SELECT doc_id, source, {SQL_TOKS} AS t FROM {src}),
    sh AS (
      SELECT doc_id, source,
             unnest(list_distinct(
               list_transform(generate_series(1, greatest(0, len(t) - 4)),
                              i -> array_to_string(list_slice(t, i, i + 4), ' ')))) AS s
      FROM tok
    ),
    bench AS (SELECT DISTINCT s FROM sh WHERE source IN {_NG_BENCH}),
    hits AS (
      SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS n_shared
      FROM sh JOIN bench ON bench.s = sh.s
      WHERE {train_cond}
      GROUP BY 1
    )
    SELECT doc_id, n_shared, (n_shared >= 3) AS contaminated
    FROM hits
    """


def _nup_batch(docs):
    """The contaminated-ingest batch: src0 docs with doc_id % 3 = 0,
    cloned under ``_NUP_SHIFT`` ids (oracle: :func:`_sql_ngram_upsert`,
    which also tags them ``'clone'``)."""
    return _cloned_docs(
        docs,
        (F.col("source") == "src0") & (F.pmod(F.col("doc_id"), F.lit(3)) == 0),
        _NUP_SHIFT,
    )


def _sql_ngram_upsert() -> str:
    head = f"""alldocs AS (
      SELECT doc_id, source, text FROM documents
      UNION ALL
      SELECT doc_id + {_NUP_SHIFT} AS doc_id, 'clone' AS source, text
      FROM documents WHERE source = 'src0' AND doc_id % 3 = 0
    ),
    """
    return _sql_decon(head=head, src="alldocs")


@query("ngram_index_upsert", sql=_sql_ngram_upsert())
def ngram_index_upsert_entry(spark, sf_dir):
    """Incremental DECONTAMINATION-index maintenance, verified through
    the contamination path: a daily ingest batch (benchmark docs
    cloned under shifted ids — the textbook contamination event: a
    training document that plagiarizes the test set) merges its
    per-doc distinct 5-gram hashes into the persisted artifact (the
    rewrite touches the CONSTANT nb=16 bucket partitions regardless
    of batch or corpus size), then the benchmark check re-runs
    against the maintained index. Sharp by construction: every clone
    shares ALL its grams with src0, so the shifted ids MUST surface
    as contaminated — missed maintenance hides exactly the doc the
    gate exists to catch. Oracle recomputes both sides over
    corpus∪batch. Idempotent; own index copy (variant="nup")."""
    from lol_data_pipeline_spark.operators.chunk_index import (
        ensure_ngram_index,
        ngram_index_upsert,
        served_contamination,
    )

    path, meta = ensure_ngram_index(
        spark, sf_dir, variant="nup", n=5, index_where=_NG_IDX_WHERE
    )
    docs = T(spark, sf_dir, "documents")
    batch = _nup_batch(docs)
    meta = ngram_index_upsert(spark, path, meta, batch)
    bench = docs.filter(F.col("source").isin("src0", "src1"))
    return served_contamination(spark, path, meta, bench, min_shared=3)


def _sql_ngram_delete() -> str:
    return _sql_decon(
        train_cond=(
            f"sh.source NOT IN {_NG_BENCH} AND NOT "
            f"(sh.doc_id >= {_NDEL_LO} AND sh.doc_id < {_NDEL_HI})"
        )
    )


@query("ngram_index_delete", sql=_sql_ngram_delete())
def ngram_index_delete_entry(spark, sf_dir):
    """DECONTAMINATION-index take-down: a doomed id range releases
    its 5-gram hashes from every bucket partition (a fully-emptied
    bucket's directory drops rather than leaving stale rows), and the
    contamination check against the maintained artifact must no
    longer report those ids. Oracle recomputes the training side over
    corpus∖doomed. Idempotent; own index copy (variant="ndel")."""
    from lol_data_pipeline_spark.operators.chunk_index import (
        ensure_ngram_index,
        ngram_index_delete,
        served_contamination,
    )

    path, meta = ensure_ngram_index(
        spark, sf_dir, variant="ndel", n=5, index_where=_NG_IDX_WHERE
    )
    docs = T(spark, sf_dir, "documents")
    doomed = docs.filter(
        F.col("doc_id").between(_NDEL_LO, _NDEL_HI - 1)
    ).select("doc_id")
    meta = ngram_index_delete(spark, path, meta, doomed)
    bench = docs.filter(F.col("source").isin("src0", "src1"))
    return served_contamination(spark, path, meta, bench, min_shared=3)


def _sql_ngram_stats() -> str:
    from lol_data_pipeline_spark.operators.chunk_index import N_BUCKETS
    from lol_data_pipeline_spark.plans.extensions import (
        SQL_MD5_LONG,
        SQL_TOKS,
    )

    md5 = SQL_MD5_LONG.format(expr="s")
    return f"""
    WITH tok AS (
      SELECT doc_id, {SQL_TOKS} AS t FROM documents WHERE {_NG_IDX_WHERE}
    ),
    sh AS (
      SELECT doc_id,
             unnest(list_distinct(
               list_transform(generate_series(1, greatest(0, len(t) - 4)),
                              i -> array_to_string(list_slice(t, i, i + 4), ' ')))) AS s
      FROM tok
    ),
    hashed AS (SELECT doc_id, {md5} AS h FROM sh),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n_grams,
             CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
      FROM hashed
    )
    SELECT CAST(h % {N_BUCKETS} AS INT) AS hb,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT h) AS BIGINT) AS n_distinct_h,
           t.n_grams AS meta_n_grams,
           t.n_docs AS meta_n_docs
    FROM hashed, tot t
    GROUP BY 1, t.n_grams, t.n_docs ORDER BY hb
    """


@query("ngram_index_stats", sql=_sql_ngram_stats())
def ngram_index_stats_entry(spark, sf_dir):
    """DECONTAMINATION-index OBSERVABILITY: per-bucket row /
    distinct-hash counts of the persisted artifact plus its totals —
    bucket skew monitoring plus the maintenance-drift check of
    chunk_index_stats/bm25_index_stats (the meta_* totals are scalar
    subqueries over the index view, so a view that drifted from the
    corpus fails the value hash). Computed from the artifact's layout
    alone: aggregates over (hb, h, id), no text bytes."""
    from lol_data_pipeline_spark.operators.chunk_index import (
        ensure_ngram_index,
        read_ngram_rows,
    )

    path, _meta = ensure_ngram_index(
        spark, sf_dir, variant="decon", n=5, index_where=_NG_IDX_WHERE
    )
    disk = read_ngram_rows(spark, path)
    return (
        disk.groupBy(F.col("hb").cast("int").alias("hb"))
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.countDistinct("h").cast("long").alias("n_distinct_h"),
        )
        .select(
            "hb",
            "n_rows",
            "n_distinct_h",
            disk.select(F.count("*").cast("long")).scalar().alias("meta_n_grams"),
            disk.select(F.countDistinct("id").cast("long"))
            .scalar()
            .alias("meta_n_docs"),
        )
        .orderBy("hb")
    )


@query("stream_ngram_upsert_multibatch", sql=_sql_ngram_upsert())
def stream_ngram_upsert_multibatch(spark, sf_dir):
    """STREAMING decontamination-index maintenance: the contaminated
    ingest batch arrives as a four-micro-batch ordered replay; each
    epoch merges ITS documents' 5-gram hashes into the persisted
    artifact through a foreachBatch sink (idempotent upsert —
    replaying an epoch purges-then-readds the same rows, so
    exactly-once falls out of idempotence, the chunk-probe pattern).
    After the drain, the benchmark check against the maintained index
    must equal the one-shot ngram_index_upsert row-for-row — shared
    oracle. Own fresh index copy (variant="nstream")."""
    import shutil as _sh

    from lol_data_pipeline_spark.operators.chunk_index import (
        ensure_ngram_index,
        ngram_index_upsert,
        served_contamination,
    )
    from lol_data_pipeline_spark.streaming.windows import replay_multibatch

    path, meta = ensure_ngram_index(
        spark, sf_dir, variant="nstream", n=5, index_where=_NG_IDX_WHERE
    )
    _sh.rmtree(path, ignore_errors=True)
    path, meta = ensure_ngram_index(
        spark, sf_dir, variant="nstream", n=5, index_where=_NG_IDX_WHERE
    )
    docs = T(spark, sf_dir, "documents")
    batch = _nup_batch(docs)
    parts = [
        batch.filter(F.pmod(F.col("doc_id"), F.lit(4)) == i) for i in range(4)
    ]
    state = {"meta": meta}

    def sink(df, _epoch_id):
        state["meta"] = ngram_index_upsert(spark, path, state["meta"], df)

    replay_multibatch(
        spark,
        parts,
        lambda stream: stream,
        mode="append",
        key=f"ngram_upsert:{sf_dir}",
        foreach_batch=sink,
    )
    bench = docs.filter(F.col("source").isin("src0", "src1"))
    return served_contamination(spark, path, state["meta"], bench, min_shared=3)


# ---------------------------------------------------------------------------
# mm_dedup_phash — perceptual-hash image near-dup: the "dedup ×
# multimodal" cell of the north-star matrix (r12 verdict item 5).
# ---------------------------------------------------------------------------

_MMP_SHIFT = 500000  # twin ids for the planted 1-pixel near-dups
_MMP_TAU = 3


def _sql_dhash_sig_ctes(media_body: str) -> str:
    """media CTE body (media_id, src, perturb[, probe]) → the
    px/bits/sigs chain re-deriving operators/multimodal.dhash64 from
    the pixel ARITHMETIC alone (no container bytes — the equality
    with the Spark side's bytes→pixels→hash derivation is what the
    oracle proves). Shared by every phash entry so the sig arithmetic
    exists once on the SQL side too."""
    from lol_data_pipeline_spark.operators.multimodal import (
        DHASH_H,
        DHASH_W,
    )
    from lol_data_pipeline_spark.plans.extensions import SQL_MD5_LONG

    md5g = SQL_MD5_LONG.format(expr="concat('g:', src, ':', x, ':', y)")
    return f"""media AS ({media_body}),
    px AS (
      SELECT media_id, x, y,
             ({md5g} % 256
              + CASE WHEN perturb = 1 AND x = 0 AND y = 0 THEN 128 ELSE 0 END
             ) % 256 AS g
      FROM media,
           generate_series(0, {DHASH_W - 1}) gx(x),
           generate_series(0, {DHASH_H - 1}) gy(y)
    ),
    bits AS (
      SELECT a.media_id, (a.y * {DHASH_W - 1} + a.x) AS i,
             CASE WHEN b.g > a.g THEN 1 ELSE 0 END AS bit
      FROM px a JOIN px b
        ON b.media_id = a.media_id AND b.y = a.y AND b.x = a.x + 1
      WHERE a.x < {DHASH_W - 1}
    ),
    sigs AS (
      SELECT media_id,
             sum(CASE WHEN i < 63 THEN bit * (CAST(1 AS BIGINT) << i)
                      ELSE 0 END)
             + sum(CASE WHEN i = 63 AND bit = 1
                        THEN CAST(-9223372036854775808 AS BIGINT)
                        ELSE 0 END) AS simhash
      FROM bits GROUP BY 1
    )"""


def _sql_phash() -> str:
    from lol_data_pipeline_spark.operators.multimodal import (
        DHASH_H,
        DHASH_W,
    )
    from lol_data_pipeline_spark.plans.extensions import SQL_MD5_LONG

    md5g = SQL_MD5_LONG.format(expr="concat('g:', src, ':', x, ':', y)")
    return f"""
    WITH media AS (
      SELECT doc_id AS media_id, doc_id AS src, 0 AS perturb FROM documents
      UNION ALL
      SELECT doc_id + {_MMP_SHIFT}, doc_id, 1 FROM documents WHERE doc_id % 10 = 0
    ),
    px AS (
      SELECT media_id, x, y,
             ({md5g} % 256
              + CASE WHEN perturb = 1 AND x = 0 AND y = 0 THEN 128 ELSE 0 END
             ) % 256 AS g
      FROM media,
           generate_series(0, {DHASH_W - 1}) gx(x),
           generate_series(0, {DHASH_H - 1}) gy(y)
    ),
    bits AS (
      SELECT a.media_id, (a.y * {DHASH_W - 1} + a.x) AS i,
             CASE WHEN b.g > a.g THEN 1 ELSE 0 END AS bit
      FROM px a JOIN px b
        ON b.media_id = a.media_id AND b.y = a.y AND b.x = a.x + 1
      WHERE a.x < {DHASH_W - 1}
    ),
    sigs AS (
      SELECT media_id,
             sum(CASE WHEN i < 63 THEN bit * (CAST(1 AS BIGINT) << i)
                      ELSE 0 END)
             + sum(CASE WHEN i = 63 AND bit = 1
                        THEN CAST(-9223372036854775808 AS BIGINT)
                        ELSE 0 END) AS simhash
      FROM bits GROUP BY 1
    )
    SELECT CAST(a.media_id AS BIGINT) AS media_a,
           CAST(b.media_id AS BIGINT) AS media_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming,
           (b.media_id = a.media_id + {_MMP_SHIFT}) AS planted
    FROM sigs a JOIN sigs b ON a.media_id < b.media_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {_MMP_TAU}
    ORDER BY 1, 2
    """


@query("mm_dedup_phash", sql=_sql_phash())
def mm_dedup_phash(spark, sf_dir):
    """Perceptual-hash IMAGE near-dup over binary media columns: a
    1-pixel-perturbed twin of every 10th document's image is planted
    (the re-encode/minor-edit duplicate class), every image's 64-bit
    dHash is computed FROM ITS BMP BYTES (synthesize → parse pixels
    back out of the container → hash: operators/multimodal.dhash64 —
    a real byte-level round trip; no codec needed on the uncompressed
    BMP path), and near-dup pairs come from the SAME Hamming-banded
    candidate machinery simhash uses (operators/dedup.hamming_pairs:
    4×16-bit bands, pigeonhole — never all-pairs). dHash is
    column-local, so the planted twin differs in ≤1 bit and is always
    caught; unrelated images differ in ~32 bits and are never
    candidates. The oracle recomputes the hash from the pixel
    ARITHMETIC alone (no bytes), so a mismatch anywhere in the
    container round trip fails the value hash. At 100 TB: hashing is
    per-image work on the scan, the banded self-join is the only
    shuffle, and bucket skew is data-driven (2^16 buckets/band)."""
    from lol_data_pipeline_spark.operators.dedup import (
        hamming_pairs,
        tracked_persist,
    )
    from lol_data_pipeline_spark.operators.multimodal import (
        media_dhash_frame,
    )

    ids = T(spark, sf_dir, "documents").select("doc_id")
    base = ids.select(
        F.col("doc_id").alias("media_id"),
        F.col("doc_id").alias("src"),
        F.lit(0).alias("perturb"),
    )
    twins = ids.filter(F.pmod(F.col("doc_id"), F.lit(10)) == 0).select(
        (F.col("doc_id") + _MMP_SHIFT).alias("media_id"),
        F.col("doc_id").alias("src"),
        F.lit(1).alias("perturb"),
    )
    sigs = tracked_persist(media_dhash_frame(base.unionByName(twins)))
    return (
        hamming_pairs(sigs, bits=64, max_hamming=_MMP_TAU)
        .select(
            F.col("id_a").alias("media_a"),
            F.col("id_b").alias("media_b"),
            F.col("hamming").cast("long").alias("hamming"),
            (F.col("id_b") == F.col("id_a") + _MMP_SHIFT).alias("planted"),
        )
        .orderBy("media_a", "media_b")
    )


# ---------------------------------------------------------------------------
# stream_ingest_gate_multibatch — the composed capstone (r12 verdict
# item 6): daily batches stream through the full ingest-gate chain
# AND the accepted docs' artifacts are upserted epoch-by-epoch, so a
# later epoch's substring gate sees what earlier epochs admitted —
# the real sequential semantics of a growing corpus. The oracle
# derives the SAME four chained epochs in SQL.
# ---------------------------------------------------------------------------

_GATE_DECISION_SQL = """CASE
      WHEN source IN ('src0', 'src1') THEN 'reject:benchmark_source'
      WHEN contaminated THEN 'reject:contaminated'
      WHEN 2 * n_dup >= n_chunks THEN 'reject:substring_dup'
      WHEN q_pred = 0 THEN 'reject:low_quality'
      ELSE 'accept' END"""


def _sql_stream_ingest_gate() -> str:
    from lol_data_pipeline_spark.plans.extensions import (
        SQL_MD5_LONG,
        SQL_TOKS,
    )
    from lol_data_pipeline_spark.plans.modeling import _sql_lr_scored
    from lol_data_pipeline_spark.plans.round12 import (
        _CSD_IDX_WHERE,
        _sql_chunk_cte,
    )

    md5 = SQL_MD5_LONG.format(expr="chunk")
    # decontamination chain, d-prefixed (the corpus_ingest_gate_e2e
    # oracle's block — tok/chunks are owned by the chunk chain)
    decon = f"""dtok AS (SELECT doc_id, source, {SQL_TOKS} AS t FROM documents),
    dsh AS (
      SELECT doc_id, source,
             unnest(list_distinct(
               list_transform(generate_series(1, greatest(0, len(t) - 4)),
                              i -> array_to_string(list_slice(t, i, i + 4), ' ')))) AS s
      FROM dtok
    ),
    dbench AS (SELECT DISTINCT s FROM dsh WHERE source IN ('src0', 'src1')),
    dhits AS (
      SELECT dsh.doc_id, CAST(count(*) AS BIGINT) AS n_shared
      FROM dsh JOIN dbench ON dbench.s = dsh.s
      WHERE dsh.source NOT IN ('src0', 'src1')
      GROUP BY 1
    )"""
    epochs = []
    for e in range(4):
        epochs.append(f"""
    eg{e} AS (
      SELECT b.doc_id, b.source, b.q_pred, b.contaminated,
             CAST(count(*) AS BIGINT) AS n_chunks,
             CAST(sum(CASE WHEN i.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
      FROM binfo b JOIN hashed c ON c.doc_id = b.doc_id
      LEFT JOIN eidx{e} i ON i.h = c.h
      WHERE b.ep = {e}
      GROUP BY 1, 2, 3, 4
    ),
    ed{e} AS (
      SELECT doc_id, source, q_pred, n_chunks, n_dup, contaminated,
             {_GATE_DECISION_SQL} AS decision
      FROM eg{e}
    )""")
        if e < 3:
            epochs.append(f"""
    eacc{e} AS (SELECT doc_id FROM ed{e} WHERE decision = 'accept'),
    eidx{e + 1} AS (
      SELECT h FROM eidx{e}
      UNION
      SELECT c.h FROM hashed c JOIN eacc{e} a ON a.doc_id = c.doc_id
    )""")
    return f"""
    WITH {_sql_chunk_cte()},
    hashed AS (SELECT doc_id, chunk_idx, chunk, {md5} AS h FROM chunks),
    {_sql_lr_scored().lstrip()},
    {decon},
    binfo AS (
      SELECT d.doc_id, d.source,
             CAST((d.doc_id % 20) // 5 AS INT) AS ep,
             s.pred AS q_pred,
             COALESCE(h.n_shared >= 3, FALSE) AS contaminated
      FROM documents d
      JOIN scored s ON s.doc_id = d.doc_id
      LEFT JOIN dhits h ON h.doc_id = d.doc_id
      WHERE d.doc_id % 5 = 0
    ),
    eidx0 AS (SELECT DISTINCT h FROM hashed WHERE {_CSD_IDX_WHERE}),
    {",".join(epochs)}
    SELECT doc_id, source, q_pred, n_chunks, n_dup, contaminated, decision
    FROM (SELECT * FROM ed0 UNION ALL SELECT * FROM ed1
          UNION ALL SELECT * FROM ed2 UNION ALL SELECT * FROM ed3)
    ORDER BY doc_id
    """


@query("stream_ingest_gate_multibatch", sql=_sql_stream_ingest_gate())
def stream_ingest_gate_multibatch(spark, sf_dir):
    """STREAMING ingest-gate capstone: four daily batches replay in
    order through corpus_ingest_gate_e2e's gate chain — benchmark-
    source exclusion, contamination vs the broadcast benchmark slice,
    exact-substring duplication vs the chunk artifact, trained
    quality weights — and each epoch's ACCEPTED documents are
    upserted into the chunk AND n-gram indexes before the next epoch
    arrives, so a later batch that duplicates an earlier admit is
    rejected at the substring gate (the sequential semantics of a
    growing corpus; the one-shot capstone checks everything against
    the standing corpus only). Exactly-once by idempotence: both
    upserts purge-then-readd, and the per-epoch parquet decision sink
    overwrites its own epoch partition. The oracle chains four epoch
    derivations in SQL, each gating against standing ∪ earlier
    accepted chunk hashes. At 100 TB: per trigger, batch-sized
    chunking/shingling/scoring + one artifact h-join + constant-
    partition upserts."""
    import os
    import shutil as _sh

    from lol_data_pipeline_spark.functions import text as tx
    from lol_data_pipeline_spark.operators.chunk_index import (
        chunk_index_upsert,
        ensure_chunk_index,
        ensure_ngram_index,
        ngram_index_upsert,
        served_chunk_clean,
    )
    from lol_data_pipeline_spark.plans.modeling import (
        _lr_scored_over,
        ensure_lr_model,
    )
    from lol_data_pipeline_spark.plans.round12 import (
        _CSD_C,
        _CSD_IDX_WHERE,
    )
    from lol_data_pipeline_spark.streaming.sinks import replay_epochs

    docs = T(spark, sf_dir, "documents")
    # fresh private artifact copies: the replay mutates them
    cpath, cmeta = ensure_chunk_index(
        spark, sf_dir, variant="gatestream", c=_CSD_C,
        index_where=_CSD_IDX_WHERE,
    )
    _sh.rmtree(cpath, ignore_errors=True)
    cpath, cmeta = ensure_chunk_index(
        spark, sf_dir, variant="gatestream", c=_CSD_C,
        index_where=_CSD_IDX_WHERE,
    )
    npath, nmeta = ensure_ngram_index(
        spark, sf_dir, variant="gatestream", n=5, index_where=_NG_IDX_WHERE
    )
    _sh.rmtree(npath, ignore_errors=True)
    npath, nmeta = ensure_ngram_index(
        spark, sf_dir, variant="gatestream", n=5, index_where=_NG_IDX_WHERE
    )
    w = ensure_lr_model(spark, sf_dir)
    bench = (
        tx.word_shingle_arrays(
            docs.filter(F.col("source").isin("src0", "src1")),
            5, "text", keep=["doc_id"],
        )
        .select(F.explode_outer("sh_arr").alias("s"))
        .filter(F.col("s").isNotNull())
        .distinct()
    )
    batch = docs.filter(F.pmod(F.col("doc_id"), F.lit(5)) == 0)
    parts = [
        batch.filter(F.pmod(F.col("doc_id"), F.lit(20)) == i * 5)
        for i in range(4)
    ]
    out = os.path.join(os.path.dirname(cpath), "stream_gate_out")
    state = {"cmeta": cmeta, "nmeta": nmeta}

    def gate(df):
        scored = _lr_scored_over(df, w).select(
            "doc_id", F.col("pred").alias("q_pred")
        )
        cstats = served_chunk_clean(spark, cpath, state["cmeta"], df).select(
            "doc_id", "n_chunks", "n_dup"
        )
        hits = (
            tx.word_shingle_arrays(
                df.filter(~F.col("source").isin("src0", "src1")),
                5, "text", keep=["doc_id"],
            )
            .select("doc_id", F.explode_outer("sh_arr").alias("s"))
            .filter(F.col("s").isNotNull())
            .join(F.broadcast(bench), "s")
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_shared"))
        )
        decisions = (
            df.select("doc_id", "source")
            .join(scored, "doc_id")
            .join(cstats, "doc_id")
            .join(hits, "doc_id", "left")
            .select(
                "doc_id",
                "source",
                "q_pred",
                "n_chunks",
                "n_dup",
                F.coalesce(F.col("n_shared") >= 3, F.lit(False)).alias(
                    "contaminated"
                ),
            )
            .withColumn("decision", F.expr(_GATE_DECISION_SQL))
            # eager: the decisions are fixed before the upserts below
            # change the indexes they were scored against
            .localCheckpoint()
        )
        accepted = df.join(
            decisions.filter(F.col("decision") == "accept").select("doc_id"),
            "doc_id",
        ).select("doc_id", "text")
        state["cmeta"] = chunk_index_upsert(
            spark, cpath, state["cmeta"], accepted
        )
        state["nmeta"] = ngram_index_upsert(
            spark, npath, state["nmeta"], accepted
        )
        return decisions

    return (
        replay_epochs(spark, parts, gate, out, f"ingest_gate:{sf_dir}")
        .select(
            "doc_id", "source", "q_pred", "n_chunks", "n_dup",
            "contaminated", "decision",
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# The IMAGE axis joins the served-index family: dHash signatures at
# rest (operators/phash_index.py) probed by incoming image batches
# and maintained band-locally — mm_dedup_phash is the one-shot
# in-corpus form; these are its incremental production shape.
# ---------------------------------------------------------------------------

_PHU_OFF = 700000  # ids for the upserted new-image batch
_PHD_LIM = 250  # delete entry's doomed range: doc_id % 10 = 0 below this


def _sql_phash_probe(media_body: str) -> str:
    """psigs × isigs exact-Hamming oracle over a media CTE carrying a
    ``probe`` flag — all-pairs on the SQL side (the banded join is
    the engine's optimization; pigeonhole makes them equal for
    d ≤ max_hamming)."""
    return f"""
    WITH {_sql_dhash_sig_ctes(media_body)},
    psigs AS (
      SELECT s.media_id, s.simhash FROM sigs s
      JOIN media m ON m.media_id = s.media_id WHERE m.probe = 1
    ),
    isigs AS (
      SELECT s.media_id, s.simhash FROM sigs s
      JOIN media m ON m.media_id = s.media_id WHERE m.probe = 0
    )
    SELECT p.media_id AS probe_id, i.media_id AS match_id,
           CAST(bit_count(xor(p.simhash, i.simhash)) AS BIGINT) AS hamming
    FROM psigs p JOIN isigs i ON p.media_id <> i.media_id
    WHERE bit_count(xor(p.simhash, i.simhash)) <= {_MMP_TAU}
    ORDER BY 1, 2
    """


def _sql_phash_served() -> str:
    return _sql_phash_probe(f"""
      SELECT doc_id AS media_id, doc_id AS src, 0 AS perturb, 0 AS probe
      FROM documents
      UNION ALL
      SELECT doc_id + {_MMP_SHIFT}, doc_id, 1, 1
      FROM documents WHERE doc_id % 10 = 0""")


@query("mm_phash_served", sql=_sql_phash_served())
def mm_phash_served(spark, sf_dir):
    """Image near-dup SERVED from the at-rest dHash index
    (operators/phash_index.py): the corpus's image signatures are
    persisted band-partitioned/chunk-sorted; the probe batch (the
    planted 1-pixel twins) is signed from ITS bytes only and joined
    on (band, chunk) — the standing images are never re-decoded. Each
    twin must surface its base image at Hamming ≤ 1. The oracle
    recomputes both sides' signatures from pixel arithmetic and takes
    exact all-pairs (pigeonhole: banded candidates ≡ all-pairs for
    d ≤ max_hamming). The mm_dedup_phash in-corpus twin stays as the
    comparison."""
    from lol_data_pipeline_spark.operators.phash_index import (
        ensure_phash_index,
        served_phash_pairs,
    )

    path, meta = ensure_phash_index(spark, sf_dir)
    docs = T(spark, sf_dir, "documents")
    twins = docs.filter(F.pmod(F.col("doc_id"), F.lit(10)) == 0).select(
        (F.col("doc_id") + _MMP_SHIFT).alias("media_id"),
        F.col("doc_id").alias("src"),
        F.lit(1).alias("perturb"),
    )
    return served_phash_pairs(spark, path, meta, twins)


def _sql_phash_upsert() -> str:
    return _sql_phash_probe(f"""
      SELECT doc_id AS media_id, doc_id AS src, 0 AS perturb, 0 AS probe
      FROM documents
      UNION ALL
      SELECT doc_id + {_PHU_OFF}, doc_id + {_PHU_OFF}, 0, 0
      FROM documents WHERE doc_id % 7 = 0
      UNION ALL
      SELECT doc_id + {_PHU_OFF} + {_MMP_SHIFT}, doc_id + {_PHU_OFF}, 1, 1
      FROM documents WHERE doc_id % 7 = 0""")


@query("phash_index_upsert", sql=_sql_phash_upsert())
def phash_index_upsert_entry(spark, sf_dir):
    """IMAGE-index maintenance, verified through the probe path: a
    new-image batch (fresh pixel fields under fresh ids) merges into
    the persisted band partitions, then 1-pixel twins OF THE NEW
    IMAGES probe the maintained artifact — each must find its just-
    upserted base, which only happens if maintenance landed. Oracle
    recomputes over corpus∪batch. Idempotent; own index copy
    (variant="up")."""
    from lol_data_pipeline_spark.operators.phash_index import (
        ensure_phash_index,
        phash_index_upsert,
        served_phash_pairs,
    )

    path, meta = ensure_phash_index(spark, sf_dir, variant="up")
    docs = T(spark, sf_dir, "documents")
    sev = docs.filter(F.pmod(F.col("doc_id"), F.lit(7)) == 0)
    new = sev.select(
        (F.col("doc_id") + _PHU_OFF).alias("media_id"),
        (F.col("doc_id") + _PHU_OFF).alias("src"),
        F.lit(0).alias("perturb"),
    )
    meta = phash_index_upsert(spark, path, meta, new)
    twins = sev.select(
        (F.col("doc_id") + _PHU_OFF + _MMP_SHIFT).alias("media_id"),
        (F.col("doc_id") + _PHU_OFF).alias("src"),
        F.lit(1).alias("perturb"),
    )
    return served_phash_pairs(spark, path, meta, twins)


def _sql_phash_delete() -> str:
    return _sql_phash_probe(f"""
      SELECT doc_id AS media_id, doc_id AS src, 0 AS perturb, 0 AS probe
      FROM documents
      WHERE NOT (doc_id % 10 = 0 AND doc_id < {_PHD_LIM})
      UNION ALL
      SELECT doc_id + {_MMP_SHIFT}, doc_id, 1, 1
      FROM documents WHERE doc_id % 10 = 0""")


@query("phash_index_delete", sql=_sql_phash_delete())
def phash_index_delete_entry(spark, sf_dir):
    """IMAGE-index take-down: a doomed id range's signatures vanish
    from every band partition, then the full twin probe re-runs —
    twins of doomed bases must come back EMPTY-HANDED while twins of
    surviving bases still match (sharp both ways). Oracle recomputes
    the index side over corpus∖doomed. Idempotent; own index copy
    (variant="del")."""
    from lol_data_pipeline_spark.operators.phash_index import (
        ensure_phash_index,
        phash_index_delete,
        served_phash_pairs,
    )

    path, meta = ensure_phash_index(spark, sf_dir, variant="del")
    docs = T(spark, sf_dir, "documents")
    doomed = docs.filter(
        (F.pmod(F.col("doc_id"), F.lit(10)) == 0)
        & (F.col("doc_id") < _PHD_LIM)
    ).select(F.col("doc_id").alias("media_id"))
    meta = phash_index_delete(spark, path, meta, doomed)
    twins = docs.filter(F.pmod(F.col("doc_id"), F.lit(10)) == 0).select(
        (F.col("doc_id") + _MMP_SHIFT).alias("media_id"),
        F.col("doc_id").alias("src"),
        F.lit(1).alias("perturb"),
    )
    return served_phash_pairs(spark, path, meta, twins)


def _sql_phash_stats() -> str:
    from lol_data_pipeline_spark.operators.phash_index import (
        _MASK,
        _WIDTH,
        N_BANDS,
    )

    vals = ", ".join(f"({b})" for b in range(N_BANDS))
    return f"""
    WITH {_sql_dhash_sig_ctes(
        "SELECT doc_id AS media_id, doc_id AS src, 0 AS perturb FROM documents"
    )},
    bandrows AS (
      SELECT media_id, b.band,
             (simhash >> (b.band * {_WIDTH})) & {_MASK} AS chunk
      FROM sigs, (VALUES {vals}) b(band)
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM sigs)
    SELECT CAST(band AS INT) AS band,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT chunk) AS BIGINT) AS n_distinct_chunk,
           t.n_docs AS meta_n_docs
    FROM bandrows, tot t
    GROUP BY 1, t.n_docs ORDER BY band
    """


@query("phash_index_stats", sql=_sql_phash_stats())
def phash_index_stats_entry(spark, sf_dir):
    """IMAGE-index OBSERVABILITY: per-band row / distinct-chunk
    counts of the persisted artifact plus its image total — band
    bucket-diversity monitoring (a collapsed chunk distribution means
    degenerate images flooding one bucket) with the maintenance-drift
    check of the other *_stats entries (meta_n_docs is a scalar
    subquery over the index view). Layout only: aggregates over
    (band, chunk, id)."""
    from lol_data_pipeline_spark.operators.phash_index import (
        ensure_phash_index,
        read_phash_rows,
    )

    path, _meta = ensure_phash_index(spark, sf_dir)
    disk = read_phash_rows(spark, path)
    return (
        disk.groupBy(F.col("band").cast("int").alias("band"))
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.countDistinct("chunk").cast("long").alias("n_distinct_chunk"),
        )
        .select(
            "band",
            "n_rows",
            "n_distinct_chunk",
            disk.select(F.countDistinct("id").cast("long"))
            .scalar()
            .alias("meta_n_docs"),
        )
        .orderBy("band")
    )


@query("stream_phash_probe_multibatch", sql=_sql_phash_served())
def stream_phash_probe_multibatch(spark, sf_dir):
    """STREAMING image gating: the twin probe batch arrives as a
    four-micro-batch ordered replay; each epoch signs ONLY its images
    and probes the persisted dHash index, writing its pairs to an
    epoch-partitioned sink (overwrite per epoch — exactly-once by
    idempotence). The probe is stateless per batch, so the union of
    epochs equals the one-shot mm_phash_served row-for-row — shared
    oracle. The ingest-time image-dedup gate shape: per trigger,
    batch-sized signing + one (band, chunk) equi-join."""
    import os

    from lol_data_pipeline_spark.operators.phash_index import (
        ensure_phash_index,
        served_phash_pairs,
    )
    from lol_data_pipeline_spark.streaming.sinks import replay_epochs

    path, meta = ensure_phash_index(spark, sf_dir)
    docs = T(spark, sf_dir, "documents")
    twins = docs.filter(F.pmod(F.col("doc_id"), F.lit(10)) == 0).select(
        (F.col("doc_id") + _MMP_SHIFT).alias("media_id"),
        F.col("doc_id").alias("src"),
        F.lit(1).alias("perturb"),
    )
    parts = [
        twins.filter(F.pmod(F.col("src"), F.lit(40)) == i * 10)
        for i in range(4)
    ]
    out = os.path.join(os.path.dirname(path), "stream_phash_out")
    return (
        replay_epochs(
            spark,
            parts,
            lambda df: served_phash_pairs(spark, path, meta, df),
            out,
            f"phash_probe:{sf_dir}",
        )
        .select("probe_id", "match_id", "hamming")
        .orderBy("probe_id", "match_id")
    )
