"""The persisted-artifact contract (operators/artifact.py): build-if-
stale reuse and rebuild rules, the atomic sidecar write, and the
cached-read refresh after an LSM compaction."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from lol_data_pipeline_spark.operators import artifact

@pytest.fixture
def src(tmp_path):
    """A fake corpus directory: one source table file, no Spark."""
    sf = tmp_path / "sf_fake"
    sf.mkdir()
    (sf / "documents.parquet").write_bytes(b"v1")
    return str(sf)


def _stub(kind, sf, calls, **fields):
    def build(path):
        calls.append(path)
        return artifact.save_meta(path, kind, {
            "fingerprint": artifact.source_fingerprint(sf, "documents"),
            **fields,
        })

    return build


def test_ensure_reuses_then_rebuilds_on_fingerprint_and_params(src, tmp_path):
    root = str(tmp_path / "root")
    calls: list[str] = []
    params = {"k": 16}
    path, meta = artifact.ensure(
        "minhash", src, "documents", params,
        _stub("minhash", src, calls, params=params), root,
    )
    assert calls == [path] and meta["params"] == params
    sidecar = os.path.join(path, "_minhash_meta.json")
    mtime = os.stat(sidecar).st_mtime_ns

    again = artifact.ensure(
        "minhash", src, "documents", params,
        _stub("minhash", src, calls, params=params), root,
    )
    assert again == (path, meta)
    assert len(calls) == 1 and os.stat(sidecar).st_mtime_ns == mtime

    # a params change is staleness
    artifact.ensure(
        "minhash", src, "documents", {"k": 8},
        _stub("minhash", src, calls, params={"k": 8}), root,
    )
    assert len(calls) == 2

    # a regenerated source is staleness
    with open(os.path.join(src, "documents.parquet"), "wb") as f:
        f.write(b"v2-longer")
    _p, meta3 = artifact.ensure(
        "minhash", src, "documents", {"k": 8},
        _stub("minhash", src, calls, params={"k": 8}), root,
    )
    assert len(calls) == 3
    assert meta3["fingerprint"] == artifact.source_fingerprint(src, "documents")


@pytest.mark.parametrize("damage", ["missing", "corrupt"])
def test_ensure_rebuilds_on_missing_or_corrupt_sidecar(src, tmp_path, damage):
    root = str(tmp_path / "root")
    calls: list[str] = []
    params = {"rounds": 3}
    build = _stub("bpe", src, calls, params=params)
    path, _ = artifact.ensure("bpe", src, "documents", params, build, root)
    sidecar = os.path.join(path, "_bpe_meta.json")
    if damage == "missing":
        os.unlink(sidecar)
    else:
        with open(sidecar, "w") as f:
            f.write('{"fingerprint": ')
    artifact.ensure("bpe", src, "documents", params, build, root)
    assert len(calls) == 2
    with open(sidecar) as f:
        assert json.load(f)["params"] == params


def test_paths_roots_and_variants(src, tmp_path, monkeypatch):
    root = str(tmp_path / "root")
    assert artifact.path("knn", src, root) == os.path.join(root, "knn_sf_fake")
    assert artifact.path("ngram", src + "/", root, variant="ndel") == os.path.join(
        root, "ngram_sf_fake_ndel"
    )
    calls: list[str] = []
    path, _ = artifact.ensure(
        "chunk", src, "documents", {}, _stub("chunk", src, calls, params={}),
        root, "upsert",
    )
    assert path == os.path.join(root, "chunk_sf_fake_upsert")
    assert os.path.exists(os.path.join(path, "_chunk_meta.json"))
    # roots honour their variable at call time, else spark-warehouse/
    monkeypatch.setenv("SPARK_GRAFT_CHUNK_INDEX_DIR", root)
    assert artifact.root("ngram") == root
    monkeypatch.delenv("SPARK_GRAFT_CHUNK_INDEX_DIR")
    assert artifact.root("ngram").endswith(
        os.path.join("spark-warehouse", "chunk_index")
    )
    assert len({env for env, _d, _m in artifact.KINDS.values()}) == 10


def test_sidecar_write_is_atomic_inside_rebuild(spark, sf_dir, tmp_path, monkeypatch):
    """A sidecar write that dies partway through a rebuild (its only
    writer) leaves the previous sidecar on disk and parseable (an
    in-place ``open(path, "w")`` would truncate it first) and no temp
    file behind. The rebuild died after its data write, at the sidecar;
    the next ensure reuses the intact sidecar and builds nothing."""
    from lol_data_pipeline_spark.operators import text_index as ti
    from lol_data_pipeline_spark.operators.lsm import lsm_epochs

    root = str(tmp_path)
    path, meta = ti.ensure_bm25_index(spark, sf_dir, root=root)
    sidecar = os.path.join(path, "_text_meta.json")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    batch = docs.filter(F.col("doc_id") < 3).select(
        (F.col("doc_id") + 970000).alias("doc_id"), "text"
    )
    assert ti.bm25_index_upsert(spark, path, meta, batch) == meta
    assert lsm_epochs(ti.postings_path(path)) == [1]
    real_dump = json.dump

    def dies_midway(obj, f, *a, **kw):
        f.write(json.dumps(obj)[:20])
        raise OSError("disk full")

    monkeypatch.setattr(json, "dump", dies_midway)
    with pytest.raises(OSError, match="disk full"):
        ti.build_bm25_index(spark, sf_dir, path)
    monkeypatch.setattr(json, "dump", real_dump)
    # it died after the data write (a fresh base generation, logs
    # cleared), at the sidecar
    assert lsm_epochs(ti.postings_path(path)) == []
    assert lsm_epochs(ti.doclens_path(path)) == []

    with open(sidecar) as f:
        assert json.load(f) == meta
    assert not [n for n in os.listdir(path) if n.endswith(".tmp")]

    def no_rebuild(*a, **kw):
        raise AssertionError("ensure rebuilt a valid artifact")

    monkeypatch.setattr(ti, "build_bm25_index", no_rebuild)
    assert ti.ensure_bm25_index(spark, sf_dir, root=root) == (path, meta)


def test_probe_after_compaction_reads_current_rows(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A probe result persisted outside any cache scope must not be
    served again after upserts and deletes compact the table: the
    compacted view's plan equals the pre-write one, so without a
    cache refresh Spark returned the pre-write rows."""
    from lol_data_pipeline_spark.operators import lsm
    from lol_data_pipeline_spark.operators import minhash_index as mh
    from lol_data_pipeline_spark.operators.dedup import minhash_lsh_probe

    monkeypatch.setattr(lsm, "DEFAULT_QUOTA", 2)
    path, meta = mh.ensure_minhash_index(spark, sf_dir, root=str(tmp_path))
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    batch = docs.filter(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 900000).alias("doc_id"), "text"
    )
    upserted = docs.filter(F.col("doc_id").between(5, 9)).select(
        (F.col("doc_id") + 800000).alias("doc_id"), "text"
    )
    verify = docs.unionByName(upserted)

    def probe(m):
        return mh.served_minhash_probe(spark, path, m, batch, verify)

    before = probe(meta).persist()
    assert {r.id_index for r in before.collect()} >= set(range(5))

    meta = mh.minhash_index_upsert(spark, path, meta, upserted)
    doomed = spark.createDataFrame([(i,) for i in range(5)], "doc_id long")
    meta = mh.minhash_index_delete(spark, path, meta, doomed)
    assert not lsm.lsm_epochs(mh.buckets_path(path))  # compacted

    current = verify.filter(F.col("doc_id") >= 5)
    want = minhash_lsh_probe(
        current.unionByName(batch), F.col("doc_id") >= 900000
    ).select("id_new", "id_index", "jaccard")
    got = probe(meta).select("id_new", "id_index", "jaccard")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    before.unpersist()
