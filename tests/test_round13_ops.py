"""Round-13 regression tests for the r12 ADVICE items: emptied
partitions must not survive delete/purge paths (dynamic partition
overwrite only rewrites partitions PRESENT in the written frame),
the MMR kernel must tolerate zero-norm vectors like the Spark plan
it replaced (NULL cosine, ignored by max), and HLL retention must
survive dropping every partition, and keep taking upserts and drops
after it."""

from __future__ import annotations

import datetime
import os

import pytest
from pyspark.sql import functions as F


def test_chunk_delete_drops_emptied_buckets(spark, tmp_path):
    """Delete every doc whose chunks exclusively own some hash bucket
    — the doomed rows must be gone from the VIEW immediately (the r12
    ADVICE stale-rows class), and the COMPACT must physically drop
    the emptied bucket directory (under the r14 LSM maintenance shape
    physical reclamation is the compact's job, not the delete's)."""
    from lol_data_pipeline_spark.operators.chunk_index import (
        CHUNKS,
        build_chunk_index,
        chunk_index_delete,
        chunks_path,
        read_chunk_rows,
    )

    path = str(tmp_path / "chunk")
    os.makedirs(path, exist_ok=True)
    meta = build_chunk_index(
        spark, "/root/testdata/sf0.001", path, c=2,
        index_where="doc_id IN (1, 2, 3)",
    )
    pre = read_chunk_rows(spark, path)
    owned = {
        int(r.hb)
        for r in pre.filter("id = 1").select("hb").distinct().collect()
    }
    shared = {
        int(r.hb)
        for r in pre.filter("id <> 1").select("hb").distinct().collect()
    }
    exclusive = owned - shared
    assert exclusive, "fixture must give doc 1 an exclusively-owned bucket"
    doomed = spark.createDataFrame([(1,)], "doc_id long")
    meta = chunk_index_delete(spark, path, meta, doomed)
    post = read_chunk_rows(spark, path)
    assert post.filter("id = 1").count() == 0, "stale doomed rows in view"
    assert post.select("id").distinct().count() == 2
    assert post.count() == pre.filter("id <> 1").count()
    CHUNKS.compact(spark, path)
    for hb in exclusive:
        assert not os.path.isdir(
            os.path.join(chunks_path(path), f"hb={hb}")
        ), f"emptied partition hb={hb} survived the compact"
    assert read_chunk_rows(spark, path).filter("id = 1").count() == 0


def test_chunk_delete_everything_zeroes_sidecar(spark, tmp_path):
    """Deleting the entire standing set empties the view, leaves the
    build's sidecar as it was, and leaves the table READABLE (no
    schema-inference crash) before and after the compact drops every
    bucket directory."""
    from lol_data_pipeline_spark.operators.chunk_index import (
        CHUNKS,
        build_chunk_index,
        chunk_index_delete,
        chunks_path,
        read_chunk_rows,
    )

    path = str(tmp_path / "chunk_all")
    os.makedirs(path, exist_ok=True)
    meta = build_chunk_index(
        spark, "/root/testdata/sf0.001", path, c=2,
        index_where="doc_id IN (1, 2)",
    )
    doomed = spark.createDataFrame([(1,), (2,)], "doc_id long")
    assert chunk_index_delete(spark, path, meta, doomed) == meta
    assert read_chunk_rows(spark, path).select("id").distinct().count() == 0
    assert read_chunk_rows(spark, path).count() == 0
    CHUNKS.compact(spark, path)
    leftover = [
        d for d in os.listdir(chunks_path(path)) if d.startswith("hb=")
    ]
    assert leftover == []
    # still readable after the physical drop (r13 ADVICE crash class)
    assert read_chunk_rows(spark, path).count() == 0


def test_minhash_delete_drops_emptied_bands(spark, tmp_path):
    """Every doc has one bucket row per band, so deleting the whole
    standing set empties EVERY band partition: the view hits zero
    immediately, and the compact drops the directories —
    without crashing any later read."""
    from lol_data_pipeline_spark.operators.minhash_index import (
        BUCKETS,
        build_minhash_index,
        buckets_path,
        minhash_index_delete,
        read_minhash_buckets,
    )

    path = str(tmp_path / "mh")
    os.makedirs(path, exist_ok=True)
    meta = build_minhash_index(
        spark, "/root/testdata/sf0.001", path,
        index_where="doc_id IN (1, 2, 3)",
    )

    def n_docs():
        return read_minhash_buckets(spark, path).select("id").distinct().count()

    assert n_docs() == 3
    doomed = spark.createDataFrame([(1,), (2,), (3,)], "doc_id long")
    meta = minhash_index_delete(spark, path, meta, doomed)
    assert n_docs() == 0
    assert read_minhash_buckets(spark, path).count() == 0
    BUCKETS.compact(spark, path)
    leftover = [
        d for d in os.listdir(buckets_path(path)) if d.startswith("band=")
    ]
    assert leftover == [], f"emptied band partitions survived: {leftover}"
    assert read_minhash_buckets(spark, path).count() == 0


def test_mmr_kernel_zero_norm_guard(spark):
    """A zero-norm candidate must not kill the task (the old Spark
    plan produced NULL cosine, ignored by max): it sorts last (NULL
    score under desc ordering) and its emitted score is NULL."""
    from lol_data_pipeline_spark.operators.similarity import mmr_greedy

    pool = spark.createDataFrame(
        [
            (1, 10, [1.0, 0.0], 0.9),
            (1, 20, [0.0, 1.0], 0.8),
            (1, 30, [0.0, 0.0], 0.7),  # zero-norm vector
        ],
        "query_id int, cand int, cvec array<double>, rel double",
    )
    rows = sorted(
        mmr_greedy(pool, lam=0.7, k=3).collect(), key=lambda r: r.pick
    )
    assert [r.cand for r in rows] == [10, 20, 30]
    assert rows[0].score is not None and rows[1].score is not None
    assert rows[2].score is None  # every pairwise sim NULL -> NULL score


def test_mmr_kernel_two_zero_norms_order_and_null_propagation(spark):
    """TWO zero-norm candidates, and a zero-norm PICK as ``last``
    (r13 ADVICE): the kernel's (1, 0.0, cand) key must order exactly
    like the Spark plan's desc_nulls_last(score), asc(cand) — both
    NULL-score rows go last among themselves by cand asc — and a
    round whose ``last`` has zero norm must leave every div as-is
    (NULL ⊕ max = identity), so the second zero-norm pick's score
    stays NULL rather than crashing or turning 0."""
    from pyspark.sql import functions as F

    from lol_data_pipeline_spark.operators.similarity import mmr_greedy

    pool = spark.createDataFrame(
        [
            (1, 10, [1.0, 0.0], 0.9),
            (1, 30, [0.0, 0.0], 0.85),  # zero-norm
            (1, 40, [0.0, 0.0], 0.84),  # zero-norm, larger cand id
            (1, 20, [0.0, 1.0], 0.1),
        ],
        "query_id int, cand int, cvec array<double>, rel double",
    )
    rows = sorted(
        mmr_greedy(pool, lam=0.5, k=4).collect(), key=lambda r: r.pick
    )
    # pick 1: rel argmax; pick 2: the only candidate with a non-NULL
    # score (20, score λ·rel − μ·0 = 0.05); picks 3/4: the NULL-score
    # pair in cand-asc order, scores NULL — including pick 4, chosen
    # in a round whose `last` (30) is itself zero-norm
    assert [(r.cand, r.score) for r in rows] == [
        (10, 0.45),
        (20, 0.05),
        (30, None),
        (40, None),
    ]
    # the Spark twin of the kernel's _key: desc_nulls_last(score) +
    # asc(cand) over the same (score, cand) pairs yields the same
    # order the kernel chose
    twin = spark.createDataFrame(
        [(0.05, 20), (None, 30), (None, 40)], "score double, cand int"
    )
    got = [
        r.cand
        for r in twin.orderBy(
            F.desc_nulls_last("score"), F.asc("cand")
        ).collect()
    ]
    assert got == [20, 30, 40]


def test_hll_retention_beyond_newest_day(spark, sf_dir, tmp_path):
    """keep_from past the newest day drops every partition; the
    emptied table then reads as empty instead of crashing on schema
    inference (r12 ADVICE low), and an upsert and a second full drop
    after it both work."""
    from lol_data_pipeline_spark.io import load_table
    from lol_data_pipeline_spark.operators.sketch_index import (
        build_hll_index,
        hll_index_retention_drop,
        hll_index_upsert,
        read_regs,
        regs_path,
    )

    path = str(tmp_path / "hll")
    os.makedirs(path, exist_ok=True)
    meta = build_hll_index(spark, sf_dir, path)

    def n_days():
        return read_regs(spark, path).select("day").distinct().count()

    def day_dirs():
        return [d for d in os.listdir(regs_path(path)) if d.startswith("day=")]

    assert n_days() > 0
    beyond = datetime.date(2100, 1, 1)
    assert hll_index_retention_drop(spark, path, meta, beyond) == meta
    assert day_dirs() == []
    assert read_regs(spark, path).count() == 0
    batch = load_table(spark, sf_dir, "events").filter(F.col("event_id") % 11 == 0)
    assert hll_index_upsert(spark, path, meta, batch) == meta
    assert n_days() == len(day_dirs()) > 0
    hll_index_retention_drop(spark, path, meta, beyond)
    assert day_dirs() == []
    assert read_regs(spark, path).count() == 0


def test_phash_planted_twin_caught_disjoint_missed(spark):
    """The 1-pixel twin differs in ≤1 dHash bit and must be caught;
    unrelated images differ in ~32 bits and must not pair. Also
    pins the byte-level round trip: the signature from BMP bytes
    equals the signature from the raw pixel arithmetic."""
    from lol_data_pipeline_spark.operators.multimodal import (
        DHASH_H,
        DHASH_W,
        _gray,
        dhash64,
        parse_bmp_gray,
        synthesize_gray_bmp,
    )
    from lol_data_pipeline_spark.plans import REGISTRY

    # byte round trip == arithmetic (the oracle's premise)
    grid = [[_gray(7, x, y) for x in range(DHASH_W)] for y in range(DHASH_H)]
    assert dhash64(parse_bmp_gray(synthesize_gray_bmp(7))) == dhash64(grid)

    rows = REGISTRY["mm_dedup_phash"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows, "no pairs found — planted twins must be caught"
    planted = [r for r in rows if r.planted]
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    n_twins = docs.filter("doc_id % 10 = 0").count()
    assert len(planted) == n_twins  # every twin caught, exactly once
    for r in planted:
        assert r.hamming <= 1
    # nothing but the planted twins is within tau of anything
    assert all(r.planted for r in rows)


def test_ngram_upsert_flags_the_clones(spark):
    """The shifted clones plagiarize src0 verbatim, so every clone id
    must surface contaminated after the upsert — the sharp
    maintenance check."""
    from lol_data_pipeline_spark.plans import REGISTRY
    from lol_data_pipeline_spark.plans.round13 import _NUP_SHIFT

    rows = {
        r.doc_id: r
        for r in REGISTRY["ngram_index_upsert"].fn(
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    clone_ids = [
        r.doc_id + _NUP_SHIFT
        for r in docs.filter(
            "source = 'src0' AND doc_id % 3 = 0"
        ).collect()
    ]
    assert clone_ids
    for cid in clone_ids:
        assert cid in rows, f"clone {cid} missing from contamination"
        assert rows[cid].contaminated


def test_ngram_delete_removes_doomed_ids(spark, sf_dir):
    """After the take-down, no doomed id appears in the contamination
    result and the artifact's LOGICAL table (the LSM view: base∪delta
    minus tombstoned) holds none of their rows. The take-down is
    tombstones-only since the r14 LSM conversion — the doomed rows may
    persist physically until the quota compact folds them out, so the
    disk-level zero-count the pre-LSM test asserted is no longer the
    contract (and was state-dependent: it held only right after a
    compact)."""
    from lol_data_pipeline_spark.operators import artifact
    from lol_data_pipeline_spark.operators.chunk_index import read_ngram_rows
    from lol_data_pipeline_spark.plans import REGISTRY
    from lol_data_pipeline_spark.plans.round13 import _NDEL_HI, _NDEL_LO

    rows = REGISTRY["ngram_index_delete"].fn(spark, sf_dir).collect()
    assert all(
        not (_NDEL_LO <= r.doc_id < _NDEL_HI) for r in rows
    )
    path = artifact.path("ngram", sf_dir, variant="ndel")
    view = read_ngram_rows(spark, path)
    assert (
        view.filter(f"id >= {_NDEL_LO} AND id < {_NDEL_HI}").count() == 0
    )


def test_stream_ngram_replay_equals_oneshot(spark):
    """The four-epoch replay's final contamination equals the
    one-shot upsert entry row-for-row (shared oracle's premise)."""
    from lol_data_pipeline_spark.plans import REGISTRY

    one = sorted(
        (r.doc_id, r.n_shared, r.contaminated)
        for r in REGISTRY["ngram_index_upsert"].fn(
            spark, "/root/testdata/sf0.001"
        ).collect()
    )
    replay = sorted(
        (r.doc_id, r.n_shared, r.contaminated)
        for r in REGISTRY["stream_ngram_upsert_multibatch"].fn(
            spark, "/root/testdata/sf0.001"
        ).collect()
    )
    assert one == replay


def test_stream_ingest_gate_sequential_semantics(spark):
    """The streaming capstone gates each epoch against standing ∪
    earlier-accepted chunks, so vs the one-shot capstone (standing
    only): same doc set, n_dup can only GROW, and every decision
    divergence is explained by the growing index (a later duplicate
    of an earlier admit flipping to reject:substring_dup, or a
    contamination/quality tie playing out identically)."""
    from lol_data_pipeline_spark.plans import REGISTRY

    one = {
        r.doc_id: r
        for r in REGISTRY["corpus_ingest_gate_e2e"].fn(
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    seq = {
        r.doc_id: r
        for r in REGISTRY["stream_ingest_gate_multibatch"].fn(
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert set(one) == set(seq)
    for d, s in seq.items():
        o = one[d]
        assert s.n_chunks == o.n_chunks
        assert s.n_dup >= o.n_dup, "growing index can only add duplication"
        assert (s.q_pred, s.contaminated) == (o.q_pred, o.contaminated)
        if s.decision != o.decision:
            assert s.decision == "reject:substring_dup"
    # epoch 0 sees exactly the standing index — identical rows
    for d, s in seq.items():
        if d % 20 == 0:
            assert s.n_dup == one[d].n_dup and s.decision == one[d].decision


def test_phash_served_every_twin_finds_its_base(spark):
    """Each planted twin matches exactly its base image at Hamming
    ≤ 1 through the PERSISTED index."""
    from lol_data_pipeline_spark.plans import REGISTRY
    from lol_data_pipeline_spark.plans.round13 import _MMP_SHIFT

    rows = REGISTRY["mm_phash_served"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    n_twins = docs.filter("doc_id % 10 = 0").count()
    assert len(rows) == n_twins
    for r in rows:
        assert r.match_id == r.probe_id - _MMP_SHIFT
        assert r.hamming <= 1


def test_phash_delete_doomed_twins_come_back_empty(spark):
    """Twins of deleted bases find nothing; twins of survivors still
    match — sharp both ways."""
    from lol_data_pipeline_spark.plans import REGISTRY
    from lol_data_pipeline_spark.plans.round13 import _MMP_SHIFT, _PHD_LIM

    rows = {
        r.probe_id: r
        for r in REGISTRY["phash_index_delete"].fn(
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bases = [r.doc_id for r in docs.filter("doc_id % 10 = 0").collect()]
    for b in bases:
        probe = b + _MMP_SHIFT
        if b < _PHD_LIM:
            assert probe not in rows, f"doomed base {b} still matched"
        else:
            assert rows[probe].match_id == b


def test_phash_upsert_finds_only_fresh_images(spark):
    """Twins of the upserted batch match their just-added bases —
    which only exist in the index if maintenance landed."""
    from lol_data_pipeline_spark.plans import REGISTRY
    from lol_data_pipeline_spark.plans.round13 import _MMP_SHIFT, _PHU_OFF

    rows = REGISTRY["phash_index_upsert"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    n = docs.filter("doc_id % 7 = 0").count()
    assert len(rows) == n
    for r in rows:
        assert r.match_id == r.probe_id - _MMP_SHIFT
        assert r.match_id >= _PHU_OFF  # matches the NEW images, never standing


def test_stream_phash_replay_equals_oneshot(spark):
    from lol_data_pipeline_spark.plans import REGISTRY

    one = sorted(
        (r.probe_id, r.match_id, r.hamming)
        for r in REGISTRY["mm_phash_served"].fn(
            spark, "/root/testdata/sf0.001"
        ).collect()
    )
    replay = sorted(
        (r.probe_id, r.match_id, r.hamming)
        for r in REGISTRY["stream_phash_probe_multibatch"].fn(
            spark, "/root/testdata/sf0.001"
        ).collect()
    )
    assert one == replay
