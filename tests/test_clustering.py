"""Connected-components and k-means operators."""

from __future__ import annotations

from pyspark.sql import functions as F

from lol_data_pipeline_spark.io import load_table
from lol_data_pipeline_spark.operators.clustering import kmeans_assign, kmeans_summary
from lol_data_pipeline_spark.operators.graph import connected_components, dedup_groups


def test_components_close_transitive_chain(spark):
    """A~B, B~C, C~D (no direct A~C/A~D edges) must all land in one
    component labeled by the minimum id — the case pairwise dedup
    output gets wrong."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    got = {r.doc_id: r.component for r in connected_components(pairs, iters=4).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def _path_pairs(spark):
    return spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6)], "id_a long, id_b long"
    )


def test_components_build_starts_no_job(spark):
    """The k rounds are one lazy plan: no checkpoint, persist-count or
    convergence collect runs while the operator is built."""
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    pairs = _path_pairs(spark)
    before = sched.nextJobId()
    connected_components(pairs, iters=4)
    assert sched.nextJobId() == before


def test_components_run_exactly_iters_rounds(spark):
    """On the path 1-2-3-4-5-6, two rounds carry each minimum two hops
    (the oracle's k-round unroll), not to the true component."""
    got = {r.doc_id: r.component for r in connected_components(_path_pairs(spark), iters=2).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 2, 5: 3, 6: 4}


def test_components_zero_iters_is_identity(spark):
    got = {r.doc_id: r.component for r in connected_components(_path_pairs(spark), iters=0).collect()}
    assert got == {v: v for v in range(1, 7)}


def test_dedup_groups_verdicts(spark):
    pairs = spark.createDataFrame([(5, 9), (9, 7)], "id_a long, id_b long")
    rows = {r.doc_id: r for r in dedup_groups(pairs, iters=3).collect()}
    assert rows[5].keep_id == 5 and rows[5].drop is False
    assert rows[7].keep_id == 5 and rows[7].drop is True
    assert all(r.group_size == 3 for r in rows.values())


def test_kmeans_partitions_all_vectors(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    out = kmeans_assign(emb, k=4, iters=2)
    assert out.count() == emb.count()
    assert out.select("vec_id").distinct().count() == emb.count()
    clusters = {r.cluster for r in out.select("cluster").distinct().collect()}
    assert clusters <= set(range(4)) and len(clusters) >= 2


def test_kmeans_deterministic(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    a = sorted((r.vec_id, r.cluster) for r in kmeans_assign(emb, k=4, iters=2).collect())
    b = sorted((r.vec_id, r.cluster) for r in kmeans_assign(emb, k=4, iters=2).collect())
    assert a == b


def test_kmeans_one_iter_assigns_to_nearest_seed(spark):
    """With iters=1 and orthogonal seed vectors, every point lands on
    the seed it is closest to."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0, 0.0]),   # near seed 0
        (3, [0.1, 0.95, 0.0, 0.0]),  # near seed 1
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r.vec_id: r.cluster for r in kmeans_assign(emb, k=2, iters=1, dim=4).collect()}
    assert got == {0: 0, 1: 1, 2: 0, 3: 1}


def test_kmeans_summary_covers_members(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    s = kmeans_summary(emb, k=4, iters=2)
    rows = s.collect()
    assert sum(r.n_members for r in rows) == emb.count()
    assert all(r.rep_id is not None for r in rows)


def test_kmeans_train_zero_rounds_returns_seeds(spark):
    """rounds=0 must hand back the deterministic lowest-id seeds,
    enumerated 0..k-1 — the contract every trained-IVF entry's
    oracle assumes for its c0 CTE."""
    from lol_data_pipeline_spark.operators.clustering import kmeans_train

    rows = [
        (7, [1.0, 0.0, 0.0, 0.0]),
        (3, [0.0, 1.0, 0.0, 0.0]),
        (9, [0.0, 0.0, 1.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = kmeans_train(emb, k=2, rounds=0, dim=4)
    assert cents == [(0, [0.0, 1.0, 0.0, 0.0]), (1, [1.0, 0.0, 0.0, 0.0])]


def test_kmeans_train_drops_emptied_cluster(spark):
    """A cluster that loses all members mid-training disappears from
    the codebook (mirrors the oracle's group-by) and later
    assignment still works over the shrunken centroid set."""
    from lol_data_pipeline_spark.operators.clustering import (
        kmeans_cells,
        kmeans_train,
    )

    # DUPLICATE seed vectors (ids 0 and 1 hold the same point — the
    # realistic duplicate-corpus-rows case): every assignment ties
    # between c0 and c1 and the (d², cid) tiebreak sends everything
    # to c0, so c1 is empty after the first update and must vanish.
    rows = [
        (0, [0.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 0.0, 0.0, 0.0]),
        (2, [1.0, 0.0, 0.0, 0.0]),
        (3, [0.5, 0.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = kmeans_train(emb, k=2, rounds=2, dim=4)
    assert [c for c, _ in cents] == [0]  # cluster 1 emptied and dropped
    cells = kmeans_cells(emb, k=2, rounds=2, dim=4, cents=cents)
    got = cells.collect()
    assert len(got) == 4
    assert {r.cell_id for r in got} == {0}


def test_probe_cells_nprobe_exceeding_centroids(spark):
    """nprobe larger than the centroid count must return every cell
    once per query (C probes), never duplicate or error."""
    from lol_data_pipeline_spark.operators.similarity import probe_cells

    rows = [(i, [float(i == j) for j in range(4)]) for i in range(4)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = emb.filter("vec_id < 2")
    got = probe_cells(emb, cents, nprobe=10).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.vec_id, []).append((r.probe_rank, r.cell_id))
    for q, probes in by_q.items():
        assert sorted(p for p, _ in probes) == list(range(1, len(probes) + 1))
        cells = [c for _, c in probes]
        assert len(cells) == len(set(cells)) == 2  # C=2 cells, each once


def test_power_norm_is_the_oracles_correctly_rounded_sqrt(spark, monkeypatch):
    """power_iteration and power_topr normalize by the oracle's ``sqrt``
    of the sequential |w|² fold. At |w|² = 677780.7041081183, ``x ** 0.5``
    is one ulp above the correctly rounded root."""
    import math

    import duckdb

    from lol_data_pipeline_spark.operators import clustering

    sq = 677780.7041081183
    root = duckdb.execute("SELECT sqrt(?)", [sq]).fetchone()[0]
    assert root == math.sqrt(sq) != sq ** 0.5
    # one round whose G·v product is (root, -2·root) with |w|² = sq
    monkeypatch.setattr(clustering, "_gv_round", lambda *a: [root, -2 * root])
    monkeypatch.setattr(clustering, "_cc", lambda w: sq)
    emb = spark.createDataFrame([(0, [1.0, 0.0])], "vec_id long, embedding array<float>")
    assert clustering.power_iteration(emb, rounds=1, dim=2) == [1.0, -2.0]
    assert clustering.power_topr(emb, r=1, rounds=1, dim=2) == [[1.0, -2.0]]
