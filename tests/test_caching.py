"""Persist/unpersist discipline: dedup intermediates must not leak
executor storage across queries in a long-lived session."""

from __future__ import annotations

from lol_data_pipeline_spark.caching import cache_scope, release_caches
from lol_data_pipeline_spark.operators.dedup import minhash_lsh_pairs, simhash_pairs
from lol_data_pipeline_spark.plans import REGISTRY


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _docs(spark):
    rows = [(i, f"alpha beta gamma delta epsilon doc {i} zeta eta theta") for i in range(30)]
    rows += [(100, "alpha beta gamma delta epsilon doc 1 zeta eta theta")]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dedup_persists_are_tracked_and_released(spark):
    release_caches()
    assert _cache_empty(spark)
    out = minhash_lsh_pairs(_docs(spark), k=8, bands=4)
    out.count()  # materialize → signature + shingle tables cached
    assert not _cache_empty(spark)
    released = release_caches()
    assert released >= 2
    assert _cache_empty(spark)
    # Plans referencing released caches still evaluate correctly
    # (they recompute instead of reading cache).
    assert out.count() == out.count()


def test_cache_scope_releases_on_exit(spark):
    release_caches()
    with cache_scope():
        pairs = simhash_pairs(_docs(spark), max_hamming=3)
        n_inside = pairs.count()
        assert not _cache_empty(spark)
    assert _cache_empty(spark)
    assert pairs.count() == n_inside  # recompute, same answer


def test_registry_entries_release_previous_caches(spark, sf_dir):
    release_caches()
    REGISTRY["dedup_minhash_lsh"].fn(spark, sf_dir).count()
    assert not _cache_empty(spark)
    # Running ANY other entry frees the previous entry's storage.
    REGISTRY["dedup_exact"].fn(spark, sf_dir).count()
    assert _cache_empty(spark)
    release_caches()


def _pr_edges(spark):
    # hub 0 linked both ways to 1..3, plus the separate pair 4<->5
    edges = [(0, i, 1) for i in (1, 2, 3)] + [(i, 0, 1) for i in (1, 2, 3)]
    edges += [(4, 5, 1), (5, 4, 1)]
    return spark.createDataFrame(edges, "src long, dst long, w long")


def _pr_expected(iters=3):
    """The same fixed-point integer recurrence as graph.pagerank, in
    plain Python: (node, rank_micro) after ``iters`` rounds."""
    from lol_data_pipeline_spark.operators.graph import _PR_SCALE as S

    out = {0: 3, 1: 1, 2: 1, 3: 1, 4: 1, 5: 1}  # every edge has w = 1
    nbrs = {0: [1, 2, 3], 1: [0], 2: [0], 3: [0], 4: [5], 5: [4]}
    n = len(out)
    r = {v: S // n for v in out}
    for _ in range(iters):
        s = {v: 0 for v in out}
        for u, vs in nbrs.items():
            for v in vs:
                s[v] += (r[u] * 850) // (out[u] * 1000)
        r = {v: (150 * S) // (1000 * n) + s[v] for v in out}
    return sorted(r.items())


def _ranks(spark):
    from lol_data_pipeline_spark.operators.graph import pagerank

    return pagerank(_pr_edges(spark), iters=3)


def test_truncate_lineage_blocks_released(spark):
    """The iterative kernels' localCheckpoint blocks (MEMORY_AND_DISK
    RDDs outside the CacheManager) must be freed by release_caches(),
    not left to JVM ContextCleaner GC. PageRank truncates every round."""
    release_caches()
    pr = _ranks(spark)
    got = sorted((r.node, r.rank_micro) for r in pr.collect())
    assert got == _pr_expected()
    jsc = spark.sparkContext._jsc
    assert jsc.getPersistentRDDs().size() > 0  # checkpoint blocks live
    release_caches()
    assert jsc.getPersistentRDDs().size() == 0  # all reclaimed


def test_truncate_lineage_uses_reliable_checkpoint_when_dir_set(spark, tmp_path):
    """With sc.setCheckpointDir (the cluster posture), per-round
    truncation must write RELIABLE checkpoints — executor-loss-safe —
    and still produce identical ranks."""
    import glob
    import os

    release_caches()
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    local = sorted((r.node, r.rank_micro) for r in _ranks(spark).collect())
    release_caches()
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        pr = _ranks(spark)
        # EAGER: each round's blocks must land on the fault-tolerant
        # store DURING iteration — before the caller runs any action —
        # or an executor loss mid-iteration recomputes from scratch
        # (the r07-advice hole: lazy checkpoint materialized nothing
        # until the final action, and then only the last marked RDD)
        files = glob.glob(str(tmp_path / "ckpt" / "**" / "*"), recursive=True)
        assert any(os.path.isfile(f) for f in files)  # written eagerly
        got = sorted((r.node, r.rank_micro) for r in pr.collect())
        assert got == local == _pr_expected()
    finally:
        # no public unset API; directly clear so later tests take the
        # localCheckpoint branch again
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            sc._jvm.scala.Option.apply(None)
        )
        release_caches()
    assert sc.getCheckpointDir() is None
