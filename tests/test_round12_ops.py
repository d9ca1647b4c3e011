"""Round-12 operator tests: the coded IVF sizing rule (k ∝ √N), the
monitor→action compaction trigger, and their pinning to the
registry entries' arithmetic."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lol_data_pipeline_spark.operators.vector_index import auto_cells
from lol_data_pipeline_spark.plans import REGISTRY


def test_auto_cells_rule_shape():
    """Smallest power of two with k² ≥ n, clamped at lo."""
    assert auto_cells(0) == 8
    assert auto_cells(1) == 8
    assert auto_cells(64) == 8
    assert auto_cells(65) == 16  # 8²=64 < 65 → 16
    assert auto_cells(6400) == 128  # 80² → next pow2 ≥ 80 is 128
    assert auto_cells(6400 * 8) == 256
    for n in [2, 100, 12345, 10**6, 10**9]:
        k = auto_cells(n)
        assert k * k >= n
        assert k == 8 or (k // 2) * (k // 2) < n  # minimal
        assert k & (k - 1) == 0  # power of two


def test_autosize_entry_matches_auto_cells(spark, sf_dir):
    """The decision-table entry and the build-time code path derive
    the SAME k for every scale row — the rule exists once."""
    rows = REGISTRY["ann_index_autosize"].fn(spark, sf_dir).collect()
    assert len(rows) == 5
    for r in rows:
        assert int(r.n_cells) == auto_cells(int(r.n_scaled))
        # balanced invariants the pair bound rests on
        avg = (int(r.n_scaled) + int(r.n_cells) - 1) // int(r.n_cells)
        assert int(r.avg_cell_rows) == avg
        assert int(r.pair_bound) == int(r.n_cells) * avg * avg


def test_build_autok_resolves_rule(spark, sf_dir, tmp_path):
    """k=None at build time derives the cell count from the corpus
    via the same rule, records it in the sidecar, and the artifact's
    partition count matches."""
    from lol_data_pipeline_spark.io import load_table
    from lol_data_pipeline_spark.operators.vector_index import (
        build_ivfpq_index,
    )

    n = load_table(spark, sf_dir, "embeddings").count()
    path = str(tmp_path / "autok")
    meta = build_ivfpq_index(spark, sf_dir, path, k=None, rounds=1)
    assert meta["params"]["k"] == auto_cells(n)
    cells = {
        int(r.cell_id)
        for r in spark.read.parquet(path).select("cell_id").distinct().collect()
    }
    # a cluster can drop out during Lloyd rounds; never exceed k
    assert len(cells) <= meta["params"]["k"]


def test_quota_trigger_invariants(spark, sf_dir):
    """The trigger entry's output is self-consistent: totals are
    conserved, the quota is ceil(N/k), the breached flag marks
    exactly the over-quota cells, and every BREACHED cell is at quota
    after the action (single-pass contract: receivers may exceed)."""
    rows = REGISTRY["ann_index_quota_trigger"].fn(spark, sf_dir).collect()
    assert rows
    total_before = sum(int(r.n_before) for r in rows)
    total_after = sum(int(r.n_after) for r in rows)
    assert total_before == total_after  # moves, never drops
    quota = int(rows[0].quota)
    k = 8  # _INDEX_PARAMS pins _IVF_CELLS=8 for the unrolled oracle
    assert quota == (total_before + k - 1) // k
    assert any(r.breached for r in rows)  # the gate fired this build
    for r in rows:
        assert bool(r.breached) == (int(r.n_before) > quota)
    # single-pass contract: a breached cell sheds its excess but may
    # RECEIVE movers from another donor, so per-cell ≤ quota is not
    # guaranteed — the convergence metric is total excess strictly
    # decreasing (idempotent-to-convergence across monitoring cycles)
    excess_before = sum(max(0, int(r.n_before) - quota) for r in rows)
    excess_after = sum(max(0, int(r.n_after) - quota) for r in rows)
    assert excess_after < excess_before


def test_substring_dedup_planted_span_survives_once(spark):
    """A repeated span planted across three documents survives in
    exactly one (the globally first occurrence), unique spans are
    untouched, and a fully-duplicated document comes back NULL."""
    from lol_data_pipeline_spark.operators.dedup import substring_dedup

    span = " ".join(f"w{i}" for i in range(8))  # one exact chunk
    uniq = {
        1: " ".join(f"a{i}" for i in range(8)),
        2: " ".join(f"b{i}" for i in range(8)),
    }
    docs = spark.createDataFrame(
        [
            (1, span + " " + uniq[1]),
            (2, uniq[2] + " " + span),
            (3, span),  # nothing but the planted span
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in substring_dedup(docs, c=8).collect()}
    assert out[1].clean_text == span + " " + uniq[1]  # first keeps it
    assert out[2].clean_text == uniq[2]  # later occurrence removed
    assert out[2].n_removed == 1
    assert out[3].clean_text is None  # fully duplicated -> NULL
    assert out[3].n_removed == 1
    total_span = sum(
        (r.clean_text or "").count(span) for r in out.values()
    )
    assert total_span == 1


def test_chunk_index_artifact_layout(spark, sf_dir, tmp_path):
    """Hive layout by hash bucket, h-sorted content, disk and view
    counts equal to a re-chunking of the indexed docs, and ensure()
    reuse without rebuild."""
    import os

    from lol_data_pipeline_spark.operators.chunk_index import (
        _batch_chunk_rows,
        chunks_path,
        ensure_chunk_index,
        read_chunk_rows,
    )

    root = str(tmp_path)
    path, meta = ensure_chunk_index(
        spark, sf_dir, root=root, c=8, index_where="doc_id % 5 <> 0"
    )
    dirs = {
        d for d in os.listdir(chunks_path(path)) if d.startswith("hb=")
    }
    assert dirs <= {f"hb={i}" for i in range(16)}
    disk = spark.read.parquet(chunks_path(path))
    want = _batch_chunk_rows(
        spark.read.parquet(f"{sf_dir}/documents.parquet").filter("doc_id % 5 <> 0"), 8
    )
    view = read_chunk_rows(spark, path)
    for rows in (disk, view):
        assert rows.count() == want.count()
        assert rows.select("id").distinct().count() == want.select("id").distinct().count()
    # only the standing side is indexed
    assert disk.filter("id % 5 = 0").count() == 0
    mtime = os.path.getmtime(os.path.join(path, "_chunk_meta.json"))
    path2, meta2 = ensure_chunk_index(
        spark, sf_dir, root=root, c=8, index_where="doc_id % 5 <> 0"
    )
    assert path2 == path and meta2 == meta
    assert os.path.getmtime(os.path.join(path, "_chunk_meta.json")) == mtime


def test_chunk_upsert_makes_clones_fully_dup(spark, sf_dir):
    """After the upsert entry merges shifted clones of ids [200,220),
    the standing batch docs among them (200/205/210/215) MUST come
    back fully duplicated — the sharp maintenance check."""
    from lol_data_pipeline_spark.plans import REGISTRY

    rows = {r.doc_id: r for r in REGISTRY["chunk_index_upsert"].fn(spark, "/root/testdata/sf0.001").collect()}
    clone_sources = [d for d in (200, 205, 210, 215) if d in rows]
    assert clone_sources
    for d in clone_sources:
        assert rows[d].n_dup == rows[d].n_chunks
        assert rows[d].clean_text is None
    base = {
        r.doc_id: r
        for r in REGISTRY["corpus_substring_dedup_served"].fn(
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    # maintenance only ADDS standing content: no doc gets cleaner
    for d, r in rows.items():
        assert r.n_dup >= base[d].n_dup


def test_chunk_delete_only_loses_dup_flags(spark, sf_dir):
    """After the delete entry removes standing ids [5,30), no probe
    doc can be MORE duplicated than before, and the artifact holds no
    doomed rows."""
    from lol_data_pipeline_spark.operators import artifact
    from lol_data_pipeline_spark.operators.chunk_index import read_chunk_rows
    from lol_data_pipeline_spark.plans import REGISTRY

    rows = {
        r.doc_id: r
        for r in REGISTRY["chunk_index_delete"].fn(
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    base = {
        r.doc_id: r
        for r in REGISTRY["corpus_substring_dedup_served"].fn(
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert set(rows) == set(base)
    for d, r in rows.items():
        assert r.n_dup <= base[d].n_dup
        assert r.n_chunks == base[d].n_chunks
    path = artifact.path("chunk", sf_dir, variant="delete")
    # the LOGICAL artifact (LSM view) holds no doomed rows — physical
    # rows linger until the compact, suppressed by tombstones
    disk = read_chunk_rows(spark, path)
    assert disk.filter("id >= 5 AND id < 30").count() == 0


def test_hll_index_merge_idempotent(spark, sf_dir, tmp_path):
    """Re-upserting the SAME batch leaves the registers bit-identical
    (HLL register max is idempotent) — the exactly-once-for-free
    property the module's maintenance story rests on."""
    from lol_data_pipeline_spark.io import load_table
    from lol_data_pipeline_spark.operators.sketch_index import (
        ensure_hll_index,
        hll_index_upsert,
        regs_path,
    )

    root = str(tmp_path)
    path, meta = ensure_hll_index(spark, sf_dir, root=root)
    ev = load_table(spark, sf_dir, "events")
    batch = ev.filter(F.col("event_id") % 11 == 0).select(
        (F.col("user_id") + 1000000).alias("user_id"),
        (F.col("ts") + F.expr("INTERVAL 30 DAYS")).alias("ts"),
    )
    meta = hll_index_upsert(spark, path, meta, batch)
    snap1 = sorted(
        (r.day, r.idx, r.m_j)
        for r in spark.read.parquet(regs_path(path)).collect()
    )
    meta2 = hll_index_upsert(spark, path, meta, batch)
    snap2 = sorted(
        (r.day, r.idx, r.m_j)
        for r in spark.read.parquet(regs_path(path)).collect()
    )
    assert snap1 == snap2
    assert meta2 == meta  # the sidecar is the build's
    # and merging a day's own events back is also a no-op
    meta3 = hll_index_upsert(spark, path, meta2, ev.select("user_id", "ts"))
    snap3 = sorted(
        (r.day, r.idx, r.m_j)
        for r in spark.read.parquet(regs_path(path)).collect()
    )
    assert snap3 == snap2


def test_hll_served_matches_inquery_estimates(spark, sf_dir, tmp_path):
    """The served rolling estimate equals the in-query twin's
    estimate columns row-for-row (same report days, same n_used /
    harmonic_s / hll_wau) — serve ≡ recompute."""
    from lol_data_pipeline_spark.operators.sketch_index import (
        ensure_hll_index,
        served_hll_rolling,
    )
    from lol_data_pipeline_spark.plans import REGISTRY

    path, _ = ensure_hll_index(spark, sf_dir, root=str(tmp_path))
    served = {
        r.report_day: (r.n_used, r.harmonic_s, r.hll_wau)
        for r in served_hll_rolling(spark, path).collect()
    }
    inq = {
        r.report_day: (r.n_used, r.harmonic_s, r.hll_wau)
        for r in REGISTRY["sketch_hll_rolling"].fn(spark, sf_dir).collect()
    }
    assert served == inq
