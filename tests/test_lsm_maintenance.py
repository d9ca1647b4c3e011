"""The r14 LSM maintenance layer's contracts (operators/lsm.py — the
r13 verdict's headline fix): upsert/delete WRITE cost is bounded by
the batch, never the artifact; the logical view is exactly the eager
merge's result; compaction folds without changing the view; the
emptied-table crash class (r13 ADVICE) is structurally gone.

The write-cost test is the verdict's done-criterion verbatim: "a new
test asserts rewritten bytes/partitions scale with the batch, not the
index (count files touched per upsert at two corpus sizes)".
"""

from __future__ import annotations

import datetime
import os

import pytest
from pyspark.sql import functions as F

from lol_data_pipeline_spark.operators.chunk_index import NGRAMS
from lol_data_pipeline_spark.operators.lsm import (
    delta_path,
    dir_bytes,
    lsm_epochs,
    lsm_maybe_compact,
    tomb_path,
)

SF = "/root/testdata/sf0.001"


def _file_set(d):
    out = set()
    for dirpath, _dirs, files in os.walk(d):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(dirpath, f)
                out.add((p, os.path.getsize(p), os.path.getmtime(p)))
    return out


def _batch(spark, n=4, shift=770000):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    return docs.filter(F.col("doc_id") < n).select(
        (F.col("doc_id") + shift).alias("doc_id"), "text"
    )


def _build_ngram(spark, tmp, name, index_where):
    from lol_data_pipeline_spark.operators.chunk_index import (
        build_ngram_index,
    )

    path = str(tmp / name)
    os.makedirs(path, exist_ok=True)
    meta = build_ngram_index(spark, SF, path, n=5, index_where=index_where)
    return path, meta


def test_upsert_write_cost_scales_with_batch_not_index(spark, tmp_path):
    """THE scale invariant: the same fixed batch upserted into a
    small index and into an ~8x larger index writes the SAME bytes
    (one delta epoch + one tombstone epoch), leaves every base file
    untouched, and those bytes are far below the artifact's. The old
    keep∪batch shape rewrote base bytes ∝ the INDEX both times."""
    from lol_data_pipeline_spark.operators.chunk_index import (
        chunks_path,
        ngram_index_upsert,
    )

    small_path, small_meta = _build_ngram(
        spark, tmp_path, "ng_small", "doc_id % 16 = 0"
    )
    big_path, big_meta = _build_ngram(spark, tmp_path, "ng_big", "doc_id % 2 = 0")
    small_base, big_base = chunks_path(small_path), chunks_path(big_path)
    assert dir_bytes(big_base) > 4 * dir_bytes(small_base)

    batch = _batch(spark)
    written = {}
    for path, meta, base in (
        (small_path, small_meta, small_base),
        (big_path, big_meta, big_base),
    ):
        before = _file_set(base)
        ngram_index_upsert(spark, path, meta, batch)
        assert _file_set(base) == before, "base files touched by upsert"
        written[path] = dir_bytes(delta_path(base)) + dir_bytes(
            tomb_path(base)
        )
        assert written[path] > 0
    # identical batch → identical write, independent of index size
    ratio = written[big_path] / written[small_path]
    assert 0.8 <= ratio <= 1.25, ratio
    # and the write is a small fraction of the big artifact
    assert written[big_path] < dir_bytes(big_base) / 2


def test_view_equals_eager_merge_and_replace_precedence(spark, tmp_path):
    """The view after upsert equals the eager keep∪batch result; a
    second upsert of CHANGED content for the same ids replaces (the
    latest epoch wins), never duplicates."""
    from lol_data_pipeline_spark.operators.chunk_index import (
        _batch_ngram_rows,
        ngram_index_upsert,
        read_ngram_rows,
    )

    path, meta = _build_ngram(spark, tmp_path, "ng_view", "doc_id % 16 = 0")
    base_rows = set(map(tuple, read_ngram_rows(spark, path).collect()))
    b1 = _batch(spark)
    meta = ngram_index_upsert(spark, path, meta, b1)
    got1 = set(map(tuple, read_ngram_rows(spark, path).collect()))
    want1 = base_rows | set(
        map(tuple, _batch_ngram_rows(b1, 5).collect())
    )
    assert got1 == want1
    # changed text, same ids → full replacement of those ids' rows
    b2 = b1.select("doc_id", F.concat(F.lit("zq xq "), F.col("text")).alias("text"))
    meta = ngram_index_upsert(spark, path, meta, b2)
    got2 = set(map(tuple, read_ngram_rows(spark, path).collect()))
    want2 = base_rows | set(
        map(tuple, _batch_ngram_rows(b2, 5).collect())
    )
    assert got2 == want2
    n_docs = read_ngram_rows(spark, path).select("id").distinct().count()
    assert n_docs == len({r[0] for r in want2})


def test_compact_preserves_view_and_clears_log(spark, tmp_path):
    """Fold-back: upsert + delete, compact, and the view is
    row-identical while the delta/tombstone logs disappear and the
    doomed ids are physically gone from base."""
    from lol_data_pipeline_spark.operators.chunk_index import (
        chunks_path,
        ngram_index_delete,
        ngram_index_upsert,
        read_ngram_rows,
    )

    path, meta = _build_ngram(spark, tmp_path, "ng_cpt", "doc_id % 8 = 0")
    meta = ngram_index_upsert(spark, path, meta, _batch(spark))
    doomed = spark.createDataFrame([(0,), (8,)], "doc_id long")
    meta = ngram_index_delete(spark, path, meta, doomed)
    base = chunks_path(path)
    assert lsm_epochs(base)
    before = sorted(map(tuple, read_ngram_rows(spark, path).collect()))
    assert NGRAMS.compact(spark, path)
    assert lsm_epochs(base) == []
    after = sorted(map(tuple, read_ngram_rows(spark, path).collect()))
    assert after == before
    raw = spark.read.parquet(base)
    assert raw.filter(F.col("id").isin(0, 8)).count() == 0


def test_upsert_after_full_delete_and_empty_compact(spark, tmp_path):
    """The r13 ADVICE crash class, structurally: delete EVERYTHING,
    keep reading (no schema-inference crash), compact the emptied
    table (schema-bearing empty base), then upsert into it and read
    the batch back."""
    from lol_data_pipeline_spark.operators.chunk_index import (
        _batch_ngram_rows,
        ngram_index_delete,
        ngram_index_upsert,
        read_ngram_rows,
    )

    path, meta = _build_ngram(spark, tmp_path, "ng_empty", "doc_id IN (0, 8)")
    doomed = spark.createDataFrame([(0,), (8,)], "doc_id long")
    meta = ngram_index_delete(spark, path, meta, doomed)
    assert read_ngram_rows(spark, path).select("id").distinct().count() == 0
    assert read_ngram_rows(spark, path).count() == 0
    NGRAMS.compact(spark, path)
    assert read_ngram_rows(spark, path).count() == 0  # schema survives
    b = _batch(spark, n=2)
    meta = ngram_index_upsert(spark, path, meta, b)
    got = set(map(tuple, read_ngram_rows(spark, path).collect()))
    assert got == set(map(tuple, _batch_ngram_rows(b, 5).collect()))
    assert read_ngram_rows(spark, path).select("id").distinct().count() == 2


def test_quota_trigger_folds_at_threshold(spark, tmp_path):
    """lsm_maybe_compact is a no-op below the quota and folds at it —
    the amortization contract (per-batch cost = batch + artifact /
    quota)."""
    from lol_data_pipeline_spark.operators.chunk_index import (
        chunks_path,
        ngram_index_upsert,
    )

    path, meta = _build_ngram(spark, tmp_path, "ng_quota", "doc_id % 16 = 0")
    base = chunks_path(path)
    meta = ngram_index_upsert(spark, path, meta, _batch(spark, n=2))
    assert not lsm_maybe_compact(spark, base, "id", ["hb"], NGRAMS.ddl, quota=5)
    assert lsm_epochs(base)
    assert lsm_maybe_compact(spark, base, "id", ["hb"], NGRAMS.ddl, quota=1)
    assert lsm_epochs(base) == []


@pytest.mark.parametrize(
    "module, table, build",
    [
        ("minhash_index", "BUCKETS", "build_minhash_index"),
        ("phash_index", "BANDS", "build_phash_index"),
        ("chunk_index", "CHUNKS", "build_chunk_index"),
        ("chunk_index", "NGRAMS", "build_ngram_index"),
        ("text_index", "POSTINGS", "build_bm25_index"),
        ("text_index", "DOCLENS", "build_bm25_index"),
        ("graph_index", "NODES", "build_knn_graph_index"),
    ],
)
def test_built_base_matches_declared_ddl(spark, tmp_path, module, table, build):
    """Each LSM table's build writes exactly its declared columns and
    types: every read declares the DDL, so a base that drifted from it
    would be null-filled or misread rather than rejected."""
    import importlib

    from pyspark.sql import types as T

    mod = importlib.import_module(f"lol_data_pipeline_spark.operators.{module}")
    tbl = getattr(mod, table)
    path = str(tmp_path / module)
    getattr(mod, build)(spark, SF, path)
    on_disk = spark.read.parquet(tbl.dir(path)).schema
    declared = T.StructType.fromDDL(tbl.ddl)
    assert [(f.name, f.dataType.simpleString()) for f in on_disk] == [
        (f.name, f.dataType.simpleString()) for f in declared
    ]


@pytest.mark.parametrize(
    "module, build, upsert, read, id_col, text",
    [
        ("minhash_index", "build_minhash_index", "minhash_index_upsert",
         "read_minhash_buckets", "id", "too short"),  # < n=3 words
        ("chunk_index", "build_chunk_index", "chunk_index_upsert",
         "read_chunk_rows", "id", ""),  # no word, no chunk
        ("chunk_index", "build_ngram_index", "ngram_index_upsert",
         "read_ngram_rows", "id", "too short"),  # < n=5 words
        ("text_index", "build_bm25_index", "bm25_index_upsert",
         "read_postings", "doc_id", ""),  # no term, no posting
    ],
)
def test_reupsert_with_rowless_text_replaces_old_rows(
    spark, tmp_path, module, build, upsert, read, id_col, text
):
    """An upsert tombstones the batch's ids, not the ids of the rows it
    derives: a document re-upserted with text too short to produce any
    row loses its old rows instead of keeping them in the view."""
    import importlib

    mod = importlib.import_module(f"lol_data_pipeline_spark.operators.{module}")
    path = str(tmp_path / module)
    os.makedirs(path, exist_ok=True)
    meta = getattr(mod, build)(spark, SF, path)

    def doc1_rows():
        return getattr(mod, read)(spark, path).filter(F.col(id_col) == 1).count()

    assert doc1_rows() > 0
    batch = spark.createDataFrame([(1, text)], "doc_id long, text string")
    getattr(mod, upsert)(spark, path, meta, batch)
    assert doc1_rows() == 0


def _job_id(spark):
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def _write_args(spark, module, path):
    """(upsert batch, delete argument) of one write pair for a family:
    20 new documents (as media for phash), upserted then deleted; for
    HLL a late event batch, then a retention drop of the oldest day."""
    batch = _batch(spark, n=20)
    if module == "phash_index":
        media = batch.select(
            F.col("doc_id").alias("media_id"), F.col("doc_id").alias("src"),
            F.lit(1).alias("perturb"),
        )
        return media, media.select("media_id")
    if module == "sketch_index":
        from lol_data_pipeline_spark.io import load_table
        from lol_data_pipeline_spark.operators.sketch_index import read_regs

        events = load_table(spark, SF, "events").filter(
            F.col("event_id") % 11 == 0
        ).select(
            (F.col("user_id") + 1000000).alias("user_id"),
            (F.col("ts") + F.expr("INTERVAL 30 DAYS")).alias("ts"),
        )
        oldest = read_regs(spark, path).agg(F.min("day")).first()[0]
        return events, oldest + datetime.timedelta(days=1)
    return batch, batch.select("doc_id")


@pytest.mark.parametrize(
    "module, build, upsert, delete, table, max_jobs",
    [
        pytest.param(
            "minhash_index", "build_minhash_index", "minhash_index_upsert",
            "minhash_index_delete", "BUCKETS", (5, 2), id="minhash",
        ),
        pytest.param(
            "chunk_index", "build_chunk_index", "chunk_index_upsert",
            "chunk_index_delete", "CHUNKS", (4, 2), id="chunk",
        ),
        pytest.param(
            "chunk_index", "build_ngram_index", "ngram_index_upsert",
            "ngram_index_delete", "NGRAMS", (3, 2), id="ngram",
        ),
        pytest.param(
            "text_index", "build_bm25_index", "bm25_index_upsert",
            "bm25_index_delete", "DOCLENS", (9, 4), id="bm25",
        ),
        pytest.param(
            "phash_index", "build_phash_index", "phash_index_upsert",
            "phash_index_delete", "BANDS", (3, 2), id="phash",
        ),
        pytest.param(
            "sketch_index", "build_hll_index", "hll_index_upsert",
            "hll_index_retention_drop", None, (7, 0), id="hll",
        ),
    ],
)
def test_writes_are_count_free(
    spark, tmp_path, module, build, upsert, delete, table, max_jobs
):
    """Below quota a write starts at most the family's bound of Spark
    jobs (upsert, delete) and recounts nothing: the sidecar is the
    build's, byte for byte, after an upsert and a delete, and each
    write returns the meta it was given."""
    import importlib

    from lol_data_pipeline_spark.operators import artifact

    mod = importlib.import_module(f"lol_data_pipeline_spark.operators.{module}")
    path = str(tmp_path / module)
    os.makedirs(path, exist_ok=True)
    meta = getattr(mod, build)(spark, SF, path)
    kind = next(k for k, v in artifact.KINDS.items() if v[2] in os.listdir(path))
    sidecar = os.path.join(path, artifact.KINDS[kind][2])
    with open(sidecar, "rb") as f:
        built = f.read()
    up, down = _write_args(spark, module, path)
    j0 = _job_id(spark)
    assert getattr(mod, upsert)(spark, path, meta, up) == meta
    j1 = _job_id(spark)
    assert getattr(mod, delete)(spark, path, meta, down) == meta
    j2 = _job_id(spark)
    if table:
        assert lsm_epochs(getattr(mod, table).dir(path)) == [1, 2]  # below quota
    jobs = (j1 - j0, j2 - j1)
    assert jobs[0] <= max_jobs[0] and jobs[1] <= max_jobs[1], jobs
    with open(sidecar, "rb") as f:
        assert f.read() == built


def test_knn_graph_writes_leave_the_sidecar_alone(spark, tmp_path):
    """The kNN-graph sidecar (planes, params, fingerprint) is written
    once, at build: an upsert and a delete leave it byte-identical."""
    from lol_data_pipeline_spark.io import load_table
    from lol_data_pipeline_spark.operators import graph_index as gi

    path = str(tmp_path / "knn")
    os.makedirs(path, exist_ok=True)
    meta = gi.build_knn_graph_index(spark, SF, path)
    sidecar = os.path.join(path, "_graph_meta.json")
    with open(sidecar, "rb") as f:
        built = f.read()
    vecs = load_table(spark, SF, "embeddings").filter(F.col("vec_id") < 4).select(
        (F.col("vec_id") + 880000).alias("vec_id"), "embedding"
    )
    gi.graph_upsert(spark, path, meta, vecs)
    gi.graph_delete(spark, path, meta, vecs)
    assert lsm_epochs(gi.nodes_path(path)) == [1, 2]
    assert gi.read_nodes(spark, path).filter(F.col("vec_id") >= 880000).count() == 0
    with open(sidecar, "rb") as f:
        assert f.read() == built


def test_chunk_index_compact_leaves_a_settled_sidecar(spark, tmp_path, monkeypatch):
    """After chunk_index_compact's forced fold the log is empty and the
    sidecar is still the build's (params and fingerprint, no count or
    log listing), so the next ensure of that artifact reuses it with no
    Spark job."""
    from lol_data_pipeline_spark.operators.artifact import load_meta
    from lol_data_pipeline_spark.operators.chunk_index import (
        chunks_path,
        ensure_chunk_index,
    )
    from lol_data_pipeline_spark.plans import REGISTRY
    from lol_data_pipeline_spark.plans.round12 import _CSD_C, _CSD_IDX_WHERE

    monkeypatch.setenv("SPARK_GRAFT_CHUNK_INDEX_DIR", str(tmp_path))
    REGISTRY["chunk_index_compact"].fn(spark, SF)
    path = os.path.join(str(tmp_path), "chunk_sf0.001_cpt")
    assert lsm_epochs(chunks_path(path)) == []
    assert set(load_meta(path, "chunk")) == {"fingerprint", "params"}
    j0 = _job_id(spark)
    assert ensure_chunk_index(
        spark, SF, variant="cpt", c=_CSD_C, index_where=_CSD_IDX_WHERE
    )[0] == path
    assert _job_id(spark) - j0 == 0
