"""Corpus-curation operators: semantics + physical-plan posture
(scan-speed ops must not shuffle; decontamination must broadcast the
benchmark index)."""

from __future__ import annotations

from pyspark.sql import functions as F

from lol_data_pipeline_spark.plans import REGISTRY
from tests.test_plan_hygiene import physical_plan


def test_scan_speed_ops_have_no_exchange(spark, sf_dir):
    """PII scrub, repetition, quality filter, and hash sampling are
    per-row projections/filters — a key-shuffle (hashpartitioning
    Exchange) in their plan is a scale regression. (The round-robin
    widen() repartition is allowed: it exists to parallelize
    single-file local scans and is a no-op at scale.)"""
    for name in (
        "corpus_pii_scrub",
        "corpus_repetition",
        "corpus_quality_filter",
        "corpus_sample_stratified",
    ):
        assert "Exchange hashpartitioning" not in physical_plan(spark, sf_dir, name), name


def test_pack_single_shuffle_decontaminate_broadcasts(spark, sf_dir):
    pack = physical_plan(spark, sf_dir, "corpus_pack_token_budget")
    assert pack.count("Exchange hashpartitioning") == 1
    deco = physical_plan(spark, sf_dir, "corpus_decontaminate")
    assert "BroadcastHashJoin" in deco and "CartesianProduct" not in deco


def test_pii_scrub_redacts_all_injected(spark, sf_dir):
    rows = REGISTRY["corpus_pii_scrub"].fn(spark, sf_dir).limit(20).collect()
    for r in rows:
        assert "<EMAIL>" in r.scrubbed and "<PHONE>" in r.scrubbed and "<SSN>" in r.scrubbed
        assert "@" not in r.scrubbed
        assert r.n_emails >= 1 and r.n_ssn_like >= 1


def test_pack_token_budget_bins(spark, sf_dir):
    out = REGISTRY["corpus_pack_token_budget"].fn(spark, sf_dir)
    per_src = (
        out.groupBy("source")
        .agg(F.sum("n_tok").alias("total"), F.max("bin_id").alias("last_bin"))
        .collect()
    )
    for r in per_src:
        assert r.last_bin == (r.total - 1) // 2048  # greedy fill leaves no empty bins
    # bin ids are non-decreasing in doc order within a source
    w_bad = (
        out.withColumn(
            "prev_bin",
            F.lag("bin_id").over(
                __import__("pyspark.sql.window", fromlist=["Window"]).Window.partitionBy(
                    "source"
                ).orderBy("doc_id")
            ),
        )
        .filter(F.col("prev_bin") > F.col("bin_id"))
        .count()
    )
    assert w_bad == 0


def test_stratified_sample_deterministic_and_rate_shaped(spark, sf_dir):
    q = REGISTRY["corpus_sample_stratified"].fn
    a = {r.doc_id for r in q(spark, sf_dir).collect()}
    b = {r.doc_id for r in q(spark, sf_dir).collect()}
    assert a == b  # partitioning-independent determinism
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    kept_en = len([1 for r in q(spark, sf_dir).collect() if r.lang == "en"])
    total_en = docs.filter(F.col("lang") == "en").count()
    assert 0.3 <= kept_en / total_en <= 0.7  # ~50% target, loose bounds


def test_decontaminate_excludes_benchmark_sources(spark, sf_dir):
    rows = REGISTRY["corpus_decontaminate"].fn(spark, sf_dir).collect()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench_ids = {
        r.doc_id for r in docs.filter(F.col("source").isin("src0", "src1")).collect()
    }
    for r in rows:
        assert r.doc_id not in bench_ids
        assert r.contaminated == (r.n_shared >= 3)


def test_leakage_safe_split_no_component_straddles(spark, sf_dir):
    """The defining property: no near-dup component has members on
    both sides of the split — and the property is non-vacuous (at
    least one multi-doc component exists, and both splits are
    non-empty)."""
    out = REGISTRY["corpus_leakage_safe_split"].fn(spark, sf_dir)
    per_comp = out.groupBy("component").agg(
        F.countDistinct("split").alias("n_sides"),
        F.count("*").alias("n_docs"),
    )
    assert per_comp.filter(F.col("n_sides") > 1).count() == 0
    assert per_comp.filter(F.col("n_docs") > 1).count() > 0
    sides = {r["split"] for r in out.select("split").distinct().collect()}
    assert sides == {"train", "eval"}
    # doc-id-hash splitting WOULD leak on this corpus: some multi-doc
    # component contains ids that hash to different sides
    from lol_data_pipeline_spark.functions.scalar import md5_long

    naive = out.withColumn(
        "naive_side",
        F.pmod(md5_long(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))), F.lit(100)) < 10,
    )
    leaky = (
        naive.groupBy("component")
        .agg(F.countDistinct("naive_side").alias("n"), F.count("*").alias("sz"))
        .filter((F.col("n") > 1) & (F.col("sz") > 1))
        .count()
    )
    assert leaky > 0  # the component-keyed split is doing real work


def test_length_buckets_invariants(spark, sf_dir):
    """Per-bucket token accounting must balance exactly: kept +
    truncated == raw mass, padding == capacity minus kept, pad_bp is
    the exact integer-division basis-point ratio, and every doc lands
    in exactly one ladder bucket."""
    from lol_data_pipeline_spark.plans.queries import T

    rows = REGISTRY["corpus_length_buckets"].fn(spark, sf_dir).collect()
    caps = {r.bucket_cap for r in rows}
    assert caps <= {16, 32, 64, 96} and len(rows) == len(caps)
    n_docs_total = T(spark, sf_dir, "documents").count()
    assert sum(r.n_docs for r in rows) == n_docs_total
    for r in rows:
        assert r.kept_tokens + r.trunc_tokens == r.sum_tokens, r
        assert r.pad_tokens == r.bucket_cap * r.n_docs - r.kept_tokens, r
        assert r.pad_bp == (10000 * r.pad_tokens) // (r.n_docs * r.bucket_cap), r
        if r.bucket_cap != 96:
            assert r.trunc_tokens == 0, r  # only the top cap truncates


def test_length_buckets_single_fixed_cardinality_shuffle(spark, sf_dir):
    """Scan-speed posture: one hash shuffle for the ≤4-group
    aggregate and nothing else (no join, no window, no sort)."""
    plan = physical_plan(spark, sf_dir, "corpus_length_buckets")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan and "Window" not in plan


def test_keep_best_representative_is_max_chars_min_id(spark, sf_dir):
    """For every multi-member duplicate group the survivor must be
    the member with the most characters (minimum doc_id on ties) —
    the defining difference from corpus_dedup_keep_first, and the
    two entries must agree on survivor COUNT (one per component)."""
    from lol_data_pipeline_spark.operators import dedup as dd
    from lol_data_pipeline_spark.operators import graph as g
    from lol_data_pipeline_spark.plans.queries import T

    docs = T(spark, sf_dir, "documents")
    members = g.connected_components(
        dd.ngram_jaccard_pairs(docs, n=3, threshold=0.8, max_shingle_df=500),
        iters=4,
    )
    mdocs = {
        r.doc_id: (r.component, r.n_chars)
        for r in members.join(docs.select("doc_id", "n_chars"), "doc_id").collect()
    }
    by_comp: dict = {}
    for doc_id, (comp, n_chars) in mdocs.items():
        by_comp.setdefault(comp, []).append((n_chars, doc_id))
    expected_reps = {
        max(ms, key=lambda t: (t[0], -t[1]))[1] for ms in by_comp.values()
    }
    survivors = {
        r.doc_id for r in REGISTRY["corpus_dedup_keep_best"].fn(spark, sf_dir).collect()
    }
    # every group member that is NOT the expected rep was dropped;
    # every expected rep survived
    for comp, ms in by_comp.items():
        rep = max(ms, key=lambda t: (t[0], -t[1]))[1]
        assert rep in survivors
        for _, doc_id in ms:
            if doc_id != rep:
                assert doc_id not in survivors
    kf = REGISTRY["corpus_dedup_keep_first"].fn(spark, sf_dir).count()
    assert len(survivors) == kf  # same one-per-component cardinality
    assert expected_reps <= survivors


def test_dq_freshness_lag_and_flag_consistent(spark, sf_dir):
    """lag_min must equal the exact integer minute difference between
    the fixed cutoff and the newest event per feed, and the stale
    flag must mirror the 30-minute threshold. (Which side of the
    threshold each feed lands on depends on the generated testdata,
    so the test checks flag/lag CONSISTENCY, not a particular
    split.)"""
    from lol_data_pipeline_spark.plans.curation import (
        _FRESH_CUTOFF,
        _FRESH_STALE_MIN,
    )
    import datetime as dt

    cutoff = dt.datetime.fromisoformat(_FRESH_CUTOFF)
    rows = REGISTRY["dq_freshness"].fn(spark, sf_dir).collect()
    assert len(rows) == 5  # one row per event_type
    for r in rows:
        expected_lag = int((cutoff - r.last_ts).total_seconds() * 1_000_000) // 60_000_000
        assert r.lag_min == expected_lag, r
        assert r.stale == (r.lag_min >= _FRESH_STALE_MIN), r
        assert r.lag_min >= 0  # cutoff postdates every event
    assert len({r.lag_min for r in rows}) > 1  # feeds genuinely differ


def test_softweight_conserves_group_mass(spark, sf_dir):
    """Every duplicate-group's members share one canonical flag and
    identical weights; weight_bp is the exact integer 10000/size; and
    canonical count equals group count. Runs at sf0.1 (derived from
    the configured testdata root, not hardcoded) — the only
    generated scale with actual exact-duplicate groups (the smaller
    corpora are all-unique, like dedup_exact's n_copies there)."""
    import os

    sf01_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.1")
    rows = REGISTRY["corpus_dedup_softweight"].fn(spark, sf01_dir).collect()
    by_size: dict = {}
    n_canonical = 0
    for r in rows:
        assert r.weight_bp == 10000 // r.group_size, r
        n_canonical += bool(r.is_canonical)
        by_size[r.group_size] = by_size.get(r.group_size, 0) + 1
    # member counts must be divisible by group size, and canonical
    # count equals the number of groups
    n_groups = 0
    for size, members in by_size.items():
        assert members % size == 0, (size, members)
        n_groups += members // size
    assert n_canonical == n_groups
    assert max(by_size) > 1  # the corpus really has exact-normalized dups


def test_hybrid_rerank_rrf_is_rank_fusion(spark, sf_dir):
    """final top-10 must be ordered by the RRF of the two ranks, the
    RRF must recompute exactly from (rank_lex, rank_sem), and both
    rank columns must be valid 1-based ranks within the 50-candidate
    pool."""
    from lol_data_pipeline_spark.plans.curation import (
        _HYBRID_CANDIDATES,
        _HYBRID_K,
        _RRF_C,
    )

    rows = REGISTRY["ann_hybrid_rerank"].fn(spark, sf_dir).collect()
    assert [r.final_rank for r in sorted(rows, key=lambda r: r.final_rank)] == list(
        range(1, _HYBRID_K + 1)
    )
    for r in rows:
        assert 1 <= r.rank_lex <= _HYBRID_CANDIDATES
        assert 1 <= r.rank_sem <= _HYBRID_CANDIDATES
        expected = round(
            1_000_000 * (1.0 / (_RRF_C + r.rank_lex) + 1.0 / (_RRF_C + r.rank_sem))
        )
        assert r.rrf_e6 == expected, r
        # cos_sim is NULL for candidates without an embedding row
        # (lexical-only hits keep their slot and rank last
        # semantically); bounded whenever present
        if r.cos_sim is not None:
            assert -1.0 <= r.cos_sim <= 1.0
    # fusion order: rrf descending, doc_id ascending on ties
    ordered = sorted(rows, key=lambda r: (-r.rrf_e6, r.doc_id))
    assert [r.final_rank for r in ordered] == list(range(1, _HYBRID_K + 1))


def test_csv_scan_quarantines_all_injected(spark, sf_dir):
    """The three injected malformed CSV rows (type violation, short
    row, stray header) must all carry _corrupt_record under a FULL
    parse, valid rows must equal the parquet row count, and the
    entry's own aggregate input (which references event_id precisely
    to defeat CSV column pruning) must quarantine the short row too
    — the pruned-parse leak this entry's filter exists to prevent."""
    from lol_data_pipeline_spark.io import load_table
    from lol_data_pipeline_spark.sources.csv import CORRUPT_ROWS, read_events_csv

    raw = read_events_csv(spark, sf_dir)
    # Spark disallows queries whose referenced columns are ONLY the
    # corrupt column (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — select a
    # data column alongside it; this also forces the full parse.
    # ...and the SHORT row is only corrupt when a column past its
    # last token is in the parse set — select every column so the
    # parse is the full row (the entry achieves this via event_id +
    # its aggregate columns, which together span the schema).
    corrupt = raw.select(*raw.columns).filter(
        F.col("_corrupt_record").isNotNull()
    )
    got = [r._corrupt_record for r in corrupt.collect()]
    assert len(got) == len(CORRUPT_ROWS)
    assert set(got) == set(CORRUPT_ROWS)
    n_parquet = load_table(spark, sf_dir, "events").count()
    # .count() would prune every column back out and re-trigger the
    # corrupt-only restriction / the short-row leak; collect the full
    # projection instead (1k rows at the test SF).
    n_valid = len(
        raw.select(*raw.columns).filter(F.col("_corrupt_record").isNull()).collect()
    )
    assert n_valid == n_parquet
    # the entry's aggregate: no NULL event_type group may leak
    out = REGISTRY["ref_csv_scan"].fn(spark, sf_dir)
    assert out.filter(F.col("event_type").isNull()).count() == 0


def test_softweight_key_is_corpus_normalize_canonical_form(spark, sf_dir):
    """corpus_dedup_softweight's docstring promises its grouping key
    is md5 of corpus_normalize's canonical form (both build it with
    functions.text.normalize): group sizes computed from
    corpus_normalize's actual output must equal softweight's
    group_size for every doc."""
    norm_out = REGISTRY["corpus_normalize"].fn(spark, sf_dir).select(
        "doc_id", F.md5("normalized").alias("k")
    )
    expected = norm_out.groupBy("k").agg(
        F.count("*").cast("long").alias("exp_size")
    )
    joined = (
        norm_out.join(expected, "k")
        .join(
            REGISTRY["corpus_dedup_softweight"].fn(spark, sf_dir).select(
                "doc_id", "group_size"
            ),
            "doc_id",
        )
    )
    assert joined.filter(F.col("exp_size") != F.col("group_size")).count() == 0
    assert joined.count() == norm_out.count()


def test_hybrid_rerank_survives_embedding_coverage_gap(spark, tmp_path):
    """The 27x probe found hybrid's embedding join silently dropping
    lexical candidates without vectors (embeddings covers a subset
    of doc ids in the generated data). Pin the fix: on a corpus
    where only half the docs have embeddings, the final top-k stays
    FULL, vectorless candidates keep their slots with NULL cos_sim,
    and every NULL-cos candidate ranks semantically after every
    scored one."""
    import numpy as np  # noqa: F401  (pyarrow dep present in env)
    from pyspark.sql import Row

    from lol_data_pipeline_spark.plans.curation import _HYBRID_K

    sf = str(tmp_path)
    docs = [
        Row(
            doc_id=i,
            text=f"spark hash window filler {i} " + "pad " * (i % 5),
            lang="en",
            source="srcX",
            n_chars=40,
        )
        for i in range(20)
    ]
    spark.createDataFrame(docs).write.mode("overwrite").parquet(
        f"{sf}/documents.parquet"
    )
    emb = [
        Row(vec_id=i, embedding=[float((i + j) % 7) for j in range(8)], label=0)
        for i in range(0, 20, 2)  # only EVEN doc ids have vectors
    ]
    spark.createDataFrame(emb).write.mode("overwrite").parquet(
        f"{sf}/embeddings.parquet"
    )
    out = REGISTRY["ann_hybrid_rerank"].fn(spark, sf).collect()
    assert len(out) == _HYBRID_K  # full top-k despite 50% coverage
    scored = [r.rank_sem for r in out if r.cos_sim is not None]
    unscored = [r.rank_sem for r in out if r.cos_sim is None]
    assert unscored, "gap corpus must surface vectorless candidates"
    assert scored and max(scored) < min(unscored)  # nulls rank last
    for r in out:
        assert (r.doc_id % 2 == 1) == (r.cos_sim is None), r


def test_filtered_topk_prefilter_semantics(spark, sf_dir):
    """Every match must satisfy the predicate, every query must get
    exactly k matches (the filtered corpus is larger than k), ranks
    must follow (sim desc, match_id), and the entry must NOT equal
    post-filtering an unfiltered top-k — the wrong strategy this
    entry exists to pin against. The label predicate must reach the
    parquet scan as a pushed filter."""
    from lol_data_pipeline_spark.plans.curation import (
        _FILT_K,
        _FILT_LABEL,
        _FILT_NQ,
    )

    rows = REGISTRY["ann_filtered_topk"].fn(spark, sf_dir).collect()
    assert all(r.label == _FILT_LABEL for r in rows)
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == set(range(_FILT_NQ))
    for qid, ms in by_q.items():
        ms.sort(key=lambda r: r.rank)
        assert [m.rank for m in ms] == list(range(1, _FILT_K + 1))
        order = [(-m.sim, m.match_id) for m in ms]
        assert order == sorted(order)
    # post-filtering an UNFILTERED top-k loses results: among the
    # global top-k neighbors of query 0, fewer than k carry the
    # label (if this ever equalizes, the dataset stopped exercising
    # the distinction — loosen deliberately, don't delete)
    from lol_data_pipeline_spark.operators import similarity as sim
    from lol_data_pipeline_spark.plans.queries import T

    emb = T(spark, sf_dir, "embeddings")
    q0 = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qvec")
    )
    global_topk = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q0))
        .select(
            "vec_id",
            "label",
            sim.cosine(F.col("embedding"), F.col("qvec")).alias("s"),
        )
        .orderBy(F.desc("s"), F.asc("vec_id"))
        .limit(_FILT_K)
        .collect()
    )
    n_label_in_global = sum(1 for r in global_topk if r.label == _FILT_LABEL)
    assert n_label_in_global < _FILT_K
    plan = physical_plan(spark, sf_dir, "ann_filtered_topk")
    assert "PushedFilters: [" in plan and "EqualTo(label," in plan


def test_filtered_ivf_recall_vs_exact_twin(spark, sf_dir):
    """The IVF-filtered results must be a per-query SUBSET semantics
    check against the exact pre-filter twin: same predicate, ranks
    valid, at most k rows per query (a label-poor cell legitimately
    returns fewer — the filtered-ANN recall loss), and every
    returned match must also appear in the exact twin's candidate
    universe (label matches only). Recall vs the exact top-k is
    reported and must be positive."""
    from lol_data_pipeline_spark.plans.curation import (
        _FILT_K,
        _FILT_LABEL,
        _FILT_NQ,
    )

    ivf = REGISTRY["ann_filtered_ivf_topk"].fn(spark, sf_dir).collect()
    exact = REGISTRY["ann_filtered_topk"].fn(spark, sf_dir).collect()
    assert all(r.label == _FILT_LABEL for r in ivf)
    by_q: dict = {}
    for r in ivf:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) <= set(range(_FILT_NQ))
    hits = total = 0
    exact_by_q: dict = {}
    for r in exact:
        exact_by_q.setdefault(r.query_id, set()).add(r.match_id)
    for qid, ms in by_q.items():
        ms.sort(key=lambda r: r.rank)
        assert [m.rank for m in ms] == list(range(1, len(ms) + 1))
        assert len(ms) <= _FILT_K
        got = {m.match_id for m in ms}
        hits += len(got & exact_by_q.get(qid, set()))
        total += len(exact_by_q.get(qid, set()))
    assert total > 0 and hits > 0  # recall is positive, not vacuous


def test_stream_freshness_matches_batch_twin(spark, sf_dir):
    """The streaming max-merge snapshot must reproduce the batch
    dq_freshness report exactly: same feeds, same counts, same
    high-water marks, same lag/stale derivation — state lost at any
    trigger would break count or max."""
    batch = {r.event_type: r for r in REGISTRY["dq_freshness"].fn(spark, sf_dir).collect()}
    stream = {
        r.event_type: r
        for r in REGISTRY["stream_freshness_multibatch"].fn(spark, sf_dir).collect()
    }
    assert set(stream) == set(batch)
    for et, s in stream.items():
        b = batch[et]
        assert s.n_events == b.n_events, et
        assert s.lag_min == b.lag_min, et
        assert s.stale == b.stale, et
