"""Round-14 entries: the PNG pixel tier un-gated (r13 verdict item 4
— pure-stdlib inflate + all five scanline filters, so the compressed
image round trip is as real as the BMP one), the real resize kernel,
and video-frame near-dup composed from frame sampling × the phash
index (verdict item 5 — dedup across the third modality). Plus the
LSM compact lifecycle entry for the r14 maintenance conversion.

Reference parity: the reference (zwilson999/lol_data_pipeline) has no
media surface — these extend the LLM-training-data pipeline family
(SURVEY.md §2's "beyond the reference" mandate). Spark-first: pixel
work is Arrow-batched mapInPandas on the scan; every shuffle is a
banded equi-join; oracles recompute from pixel ARITHMETIC alone, so
any container-codec bug (filter reconstruction, stride, bit packing)
fails the value hash.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from lol_data_pipeline_spark.plans.queries import T, query
from lol_data_pipeline_spark.plans.round9 import _cloned_docs

_VID_SHIFT = 600000  # re-encoded twin clips
_VID_DISJOINT = 999331  # unrelated pixel field for the miss control
_VID_FRAMES = [0, 2, 4, 6]  # frame_sample(every_n=2) over 8-frame clips
_VID_MIN_FRAMES = 3  # clip-level match threshold


def _sql_phash_png() -> str:
    """mm_dedup_phash's oracle VERBATIM (plans/round13._sql_phash):
    the pixel arithmetic is container-independent, so the PNG entry
    sharing it is precisely the claim under test — deflate→inflate→
    unfilter must reproduce the exact pixel field the BMP path
    carries uncompressed."""
    from lol_data_pipeline_spark.plans.round13 import _sql_phash

    return _sql_phash()


@query("mm_dedup_phash_png", sql=_sql_phash_png())
def mm_dedup_phash_png(spark, sf_dir):
    """Perceptual-hash image near-dup over COMPRESSED containers:
    identical media set and banded machinery to mm_dedup_phash, but
    every signature derives from PNG bytes — synthesize (zlib
    deflate, per-row filter y%5 so Sub/Up/Average/Paeth are all
    load-bearing) → parse (pure-stdlib inflate + unfilter:
    operators/multimodal.parse_png_gray) → dHash. The oracle
    recomputes the hash from pixel arithmetic alone and is shared
    verbatim with the BMP entry, so any defect anywhere in the PNG
    codec shifts a bit and fails the value hash. At 100 TB the
    planning story is mm_dedup_phash's: per-image decode rides the
    scan; the banded self-join is the only shuffle."""
    from lol_data_pipeline_spark.operators.dedup import (
        hamming_pairs,
        tracked_persist,
    )
    from lol_data_pipeline_spark.operators.multimodal import media_dhash_frame
    from lol_data_pipeline_spark.plans.round13 import _MMP_SHIFT, _MMP_TAU

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
    sigs = tracked_persist(
        media_dhash_frame(base.unionByName(twins), container="png")
    )
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


def _sql_pixel_features() -> str:
    from lol_data_pipeline_spark.plans.extensions import SQL_MD5_LONG

    md5g = SQL_MD5_LONG.format(expr="concat('g:', doc_id, ':', x, ':', y)")
    return f"""
    WITH sel AS (SELECT doc_id FROM documents WHERE doc_id % 7 = 0),
    px AS (
      SELECT doc_id, ({md5g}) % 256 AS g
      FROM sel, generate_series(0, 16) gx(x), generate_series(0, 13) gy(y)
      WHERE x < 4 + doc_id % 13 AND y < 3 + doc_id % 11
    )
    SELECT CAST(doc_id AS BIGINT) AS media_id,
           CAST(4 + doc_id % 13 AS INTEGER) AS width,
           CAST(3 + doc_id % 11 AS INTEGER) AS height,
           CAST(sum(g) AS BIGINT) AS checksum
    FROM px GROUP BY doc_id ORDER BY media_id
    """


@query("mm_pixel_features_png", sql=_sql_pixel_features())
def mm_pixel_features_png(spark, sf_dir):
    """The UN-GATED pixel decode tier (r13 verdict item 4):
    extract_features(decode_stub=False) over real PNG payloads of
    VARIED per-id geometry (w = 4 + id%13, h = 3 + id%11 — every
    stride and every filter type in play), emitting width/height
    from the decoded grid and checksum = Σ pixel values, a genuine
    pixel statistic. The oracle recomputes all three from the _gray
    arithmetic alone — a decoder that misreconstructs ANY scanline
    filter or stride fails the value hash on some id class. n_bytes
    is deliberately not checked: PNG size is compression-dependent,
    which is exactly why the resize entry re-encodes to BMP."""
    from collections.abc import Iterator

    import pandas as pd

    from lol_data_pipeline_spark.operators.multimodal import (
        MEDIA_DDL,
        extract_features,
        synthesize_gray_png,
    )

    sel = T(spark, sf_dir, "documents").filter(
        F.pmod(F.col("doc_id"), F.lit(7)) == 0
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["doc_id"]:
                i = int(i)
                p = synthesize_gray_png(i, w=4 + i % 13, h=3 + i % 11)
                rows.append(
                    (
                        i,
                        p,
                        {"mime": "image/png", "n_bytes": len(p), "origin": "synth"},
                    )
                )
            yield pd.DataFrame(rows, columns=["media_id", "payload", "meta"])

    media = sel.select("doc_id").mapInPandas(gen, schema=MEDIA_DDL)
    return (
        extract_features(media, decode_stub=False)
        .select("media_id", "width", "height", "checksum")
        .orderBy("media_id")
    )


def _sql_resize_real() -> str:
    from lol_data_pipeline_spark.plans.extensions import SQL_MD5_LONG

    # source dims, output dims (nearest-neighbor, integer arithmetic)
    dims = """dims AS (
      SELECT doc_id,
             10 + doc_id % 20 AS w, 6 + doc_id % 15 AS h,
             greatest(10 + doc_id % 20, 6 + doc_id % 15) AS mx
      FROM documents WHERE doc_id % 7 = 3
    ),
    odims AS (
      SELECT doc_id, w, h,
             CASE WHEN mx > 12 THEN greatest(1, (w * 12) // mx) ELSE w END AS ow,
             CASE WHEN mx > 12 THEN greatest(1, (h * 12) // mx) ELSE h END AS oh
      FROM dims
    )"""
    md5g = SQL_MD5_LONG.format(
        expr="concat('g:', doc_id, ':', (x * w) // ow, ':', (y * h) // oh)"
    )
    return f"""
    WITH {dims},
    opx AS (
      SELECT doc_id, ow, oh, ({md5g}) % 256 AS g
      FROM odims, generate_series(0, 28) gx(x), generate_series(0, 19) gy(y)
      WHERE x < ow AND y < oh
    )
    SELECT CAST(doc_id AS BIGINT) AS media_id,
           CAST(ow AS INTEGER) AS width,
           CAST(oh AS INTEGER) AS height,
           CAST(54 + ((ow * 3 + 3) // 4) * 4 * oh AS BIGINT) AS n_bytes,
           CAST(sum(g) AS BIGINT) AS pixel_sum
    FROM opx GROUP BY doc_id, ow, oh ORDER BY media_id
    """


@query("mm_resize_real", sql=_sql_resize_real())
def mm_resize_real(spark, sf_dir):
    """The REAL resize kernel (the other formerly-gated path):
    varied-geometry PNGs (w = 10 + id%20, h = 6 + id%15) decode,
    nearest-neighbor downsample to max_dim=12 (integer arithmetic —
    src_x = x·w // ow — so the oracle reproduces every output
    pixel), and re-encode as uncompressed BMP whose byte size is a
    closed form of the output dims. Checked: output dims, actual
    output byte length, and the resized pixel sum — the whole
    decode→resample→re-encode chain against arithmetic."""
    from collections.abc import Iterator

    import pandas as pd

    from lol_data_pipeline_spark.operators.multimodal import (
        resize_media,
        synthesize_gray_png,
    )

    sel = T(spark, sf_dir, "documents").filter(
        F.pmod(F.col("doc_id"), F.lit(7)) == 3
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                (
                    int(i),
                    synthesize_gray_png(
                        int(i), w=10 + int(i) % 20, h=6 + int(i) % 15
                    ),
                )
                for i in pdf["doc_id"]
            ]
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    media = sel.select("doc_id").mapInPandas(
        gen, schema="media_id bigint, payload binary"
    )
    return (
        resize_media(media, max_dim=12)
        .select("media_id", "width", "height", "n_bytes", "pixel_sum")
        .orderBy("media_id")
    )


def _sql_video_frames() -> str:
    from lol_data_pipeline_spark.operators.phash_index import (
        FRAME_STRIDE,
        MAX_HAMMING,
    )
    from lol_data_pipeline_spark.plans.round13 import _sql_dhash_sig_ctes

    frames = ", ".join(str(f) for f in _VID_FRAMES)
    media = f"""
      SELECT doc_id * {FRAME_STRIDE} + f AS media_id,
             doc_id * {FRAME_STRIDE} + f AS src, 0 AS perturb, 'idx' AS side
      FROM documents, unnest([{frames}]) t(f) WHERE doc_id % 5 = 0
      UNION ALL
      SELECT (doc_id + {_VID_SHIFT}) * {FRAME_STRIDE} + f,
             doc_id * {FRAME_STRIDE} + f, 1, 'probe'
      FROM documents, unnest([{frames}]) t(f) WHERE doc_id % 10 = 0
      UNION ALL
      SELECT (doc_id + 2 * {_VID_SHIFT}) * {FRAME_STRIDE} + f,
             (doc_id + {_VID_DISJOINT}) * {FRAME_STRIDE} + f, 0, 'probe'
      FROM documents, unnest([{frames}]) t(f) WHERE doc_id % 10 = 0
    """
    return f"""
    WITH {_sql_dhash_sig_ctes(media)},
    pairs AS (
      SELECT p.media_id // {FRAME_STRIDE} AS pc,
             i.media_id // {FRAME_STRIDE} AS mc,
             count(*) AS n
      FROM sigs ps
      JOIN media p ON p.media_id = ps.media_id AND p.side = 'probe'
      JOIN sigs "is" ON bit_count(xor(ps.simhash, "is".simhash)) <= {MAX_HAMMING}
      JOIN media i ON i.media_id = "is".media_id AND i.side = 'idx'
      GROUP BY 1, 2
    ),
    best AS (
      SELECT pc, mc, n,
             row_number() OVER (PARTITION BY pc ORDER BY n DESC, mc ASC) AS rn
      FROM pairs
    ),
    spine AS (SELECT DISTINCT media_id // {FRAME_STRIDE} AS pc FROM media WHERE side = 'probe')
    SELECT CAST(s.pc AS BIGINT) AS probe_clip,
           CAST(b.mc AS BIGINT) AS match_clip,
           CAST(coalesce(b.n, 0) AS BIGINT) AS n_frames_matched,
           (coalesce(b.n, 0) >= {_VID_MIN_FRAMES}) AS matched
    FROM spine s LEFT JOIN best b ON b.pc = s.pc AND b.rn = 1
    ORDER BY probe_clip
    """


@query("mm_dedup_video_frames", sql=_sql_video_frames())
def mm_dedup_video_frames(spark, sf_dir):
    """VIDEO near-dup across sampled frames (r13 verdict item 5 —
    the third modality's dedup cell, composed entirely from existing
    machinery): every 5th document is a standing 8-frame clip whose
    SAMPLED frames (0,2,4,6 — multimodal.frame_sample's every_n=2
    contract) are hashed through the real bytes path and persisted
    in a frame-mode phash index (operators/phash_index.frame_media).
    The probe batch carries a RE-ENCODED twin of every 10th clip
    (each frame 1-pixel-perturbed — the transcode/watermark near-dup
    class, every frame within Hamming 1) and an equal number of
    DISJOINT clips (unrelated pixel fields — the miss control). Each
    probe frame probes the index (band equi-join + exact verify from
    stored signatures — served_phash_pairs), then frame pairs
    aggregate to clip level: matched ⇔ ≥3 of 4 sampled frames hit
    the same standing clip. Twins must match with 4/4; disjoint
    clips must appear with n_frames_matched = 0. At 100 TB: frame
    hashing rides the probe scan, the only shuffle is the banded
    join, and the clip rollup is a count over ≤ |probe|·frames rows.
    The oracle re-derives every signature from pixel arithmetic and
    brute-forces the pair set."""
    from lol_data_pipeline_spark.operators.phash_index import (
        FRAME_STRIDE,
        ensure_phash_index,
        served_phash_pairs,
    )

    path, meta = ensure_phash_index(
        spark, sf_dir, variant="vid", index_where="doc_id % 5 = 0",
        frames=_VID_FRAMES,
    )
    docs = T(spark, sf_dir, "documents")
    clips = docs.filter(F.pmod(F.col("doc_id"), F.lit(10)) == 0).select("doc_id")
    f = F.explode(F.array(*[F.lit(i) for i in _VID_FRAMES])).alias("f")
    frames = clips.select("doc_id", f)
    twins = frames.select(
        ((F.col("doc_id") + _VID_SHIFT) * FRAME_STRIDE + F.col("f")).alias(
            "media_id"
        ),
        (F.col("doc_id") * FRAME_STRIDE + F.col("f")).alias("src"),
        F.lit(1).alias("perturb"),
    )
    disjoint = frames.select(
        ((F.col("doc_id") + 2 * _VID_SHIFT) * FRAME_STRIDE + F.col("f")).alias(
            "media_id"
        ),
        ((F.col("doc_id") + _VID_DISJOINT) * FRAME_STRIDE + F.col("f")).alias(
            "src"
        ),
        F.lit(0).alias("perturb"),
    )
    probe = twins.unionByName(disjoint)
    pairs = served_phash_pairs(spark, path, meta, probe)
    agg = (
        pairs.groupBy(
            (F.col("probe_id") / FRAME_STRIDE).cast("long").alias("pc"),
            (F.col("match_id") / FRAME_STRIDE).cast("long").alias("mc"),
        )
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("pc").orderBy(F.col("n").desc(), F.col("mc").asc())
    best = agg.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    spine = probe.select(
        (F.col("media_id") / FRAME_STRIDE).cast("long").alias("pc")
    ).distinct()
    return (
        spine.join(best, "pc", "left")
        .select(
            F.col("pc").alias("probe_clip"),
            F.col("mc").cast("long").alias("match_clip"),
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias(
                "n_frames_matched"
            ),
            (F.coalesce(F.col("n"), F.lit(0)) >= _VID_MIN_FRAMES).alias(
                "matched"
            ),
        )
        .orderBy("probe_clip")
    )


_AUD_SHIFT = 700000  # planted near-dup audio twins
_AUD_TAU = 3


def _sql_audio_sig_ctes(media_body: str) -> str:
    """media CTE body (media_id, src, perturb[, side]) → the
    samples/energies/bits/sigs chain re-deriving
    operators/multimodal.audio_hash64 from the SAMPLE arithMETIC
    alone (no container bytes) — the audio twin of
    round13._sql_dhash_sig_ctes, proving the PCM byte round trip."""
    from lol_data_pipeline_spark.operators.multimodal import (
        AHASH_WIN,
        AHASH_WINDOWS,
    )
    from lol_data_pipeline_spark.plans.extensions import SQL_MD5_LONG

    md5a = SQL_MD5_LONG.format(expr="concat('a:', src, ':', i)")
    n = AHASH_WINDOWS * AHASH_WIN
    return f"""media AS ({media_body}),
    smp AS (
      SELECT media_id, i,
             ((({md5a}) % 65536
               + CASE WHEN perturb = 1 AND i = 0 THEN 7000 ELSE 0 END
              ) % 65536) - 32768 AS s
      FROM media, generate_series(0, {n - 1}) gi(i)
    ),
    nrg AS (
      SELECT media_id, i // {AHASH_WIN} AS w, sum(abs(s)) AS e
      FROM smp GROUP BY 1, 2
    ),
    bits AS (
      SELECT a.media_id, a.w AS i,
             CASE WHEN b.e > a.e THEN 1 ELSE 0 END AS bit
      FROM nrg a JOIN nrg b
        ON b.media_id = a.media_id AND b.w = a.w + 1
      WHERE a.w < {AHASH_WINDOWS - 1}
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


def _sql_audio_fp() -> str:
    media = f"""
      SELECT doc_id AS media_id, doc_id AS src, 0 AS perturb FROM documents
      UNION ALL
      SELECT doc_id + {_AUD_SHIFT}, doc_id, 1 FROM documents WHERE doc_id % 10 = 0
    """
    return f"""
    WITH {_sql_audio_sig_ctes(media)}
    SELECT CAST(a.media_id AS BIGINT) AS media_a,
           CAST(b.media_id AS BIGINT) AS media_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming,
           (b.media_id = a.media_id + {_AUD_SHIFT}) AS planted
    FROM sigs a JOIN sigs b ON a.media_id < b.media_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {_AUD_TAU}
    ORDER BY 1, 2
    """


@query("mm_dedup_audio_fp", sql=_sql_audio_fp())
def mm_dedup_audio_fp(spark, sf_dir):
    """Audio near-dup — the FOURTH modality's dedup cell, closing
    the text/image/video/audio matrix with the same machinery: every
    document carries a REAL mono 16-bit PCM WAV (synthesize → parse
    the samples back out of the RIFF container → hash: a genuine
    byte-level round trip, no codec — PCM is uncompressed like BMP),
    fingerprinted by 64 window-energy difference bits (the audio
    twin of dHash: window-local, so a planted one-sample perturbation
    — the re-encode/noise near-dup class — moves ONE window's energy
    and at most one bit). Candidates come from the SAME
    Hamming-banded machinery (operators/dedup.hamming_pairs — never
    all-pairs); the oracle re-derives every fingerprint from the
    sample arithmetic alone, so any defect in the PCM writer, the
    RIFF walk, or the energy fold fails the value hash. At 100 TB:
    per-clip hashing rides the scan; the banded self-join is the
    only shuffle."""
    from lol_data_pipeline_spark.operators.dedup import (
        hamming_pairs,
        tracked_persist,
    )
    from lol_data_pipeline_spark.operators.multimodal import (
        media_audio_hash_frame,
    )

    ids = T(spark, sf_dir, "documents").select("doc_id")
    base = ids.select(
        F.col("doc_id").alias("media_id"),
        F.col("doc_id").alias("src"),
        F.lit(0).alias("perturb"),
    )
    twins = ids.filter(F.pmod(F.col("doc_id"), F.lit(10)) == 0).select(
        (F.col("doc_id") + _AUD_SHIFT).alias("media_id"),
        F.col("doc_id").alias("src"),
        F.lit(1).alias("perturb"),
    )
    sigs = tracked_persist(
        media_audio_hash_frame(base.unionByName(twins))
    )
    return (
        hamming_pairs(sigs, bits=64, max_hamming=_AUD_TAU)
        .select(
            F.col("id_a").alias("media_a"),
            F.col("id_b").alias("media_b"),
            F.col("hamming").cast("long").alias("hamming"),
            (F.col("id_b") == F.col("id_a") + _AUD_SHIFT).alias("planted"),
        )
        .orderBy("media_a", "media_b")
    )


def _sql_audio_served() -> str:
    media = f"""
      SELECT doc_id AS media_id, doc_id AS src, 0 AS perturb, 0 AS probe
      FROM documents
      UNION ALL
      SELECT doc_id + {_AUD_SHIFT}, doc_id, 1, 1
      FROM documents WHERE doc_id % 10 = 0
    """
    return f"""
    WITH {_sql_audio_sig_ctes(media)},
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
    WHERE bit_count(xor(p.simhash, i.simhash)) <= {_AUD_TAU}
    ORDER BY 1, 2
    """


@query("mm_audio_served", sql=_sql_audio_served())
def mm_audio_served(spark, sf_dir):
    """Audio near-dup SERVED from an at-rest fingerprint index: the
    band-partitioned signature machinery is modality-blind (64-bit
    signatures either way), so the phash index takes the AUDIO
    signer (operators/phash_index signer="audio") and the corpus's
    clip fingerprints go at rest band-partitioned/chunk-sorted; the
    probe batch (planted one-sample twins) is signed from ITS PCM
    bytes only and joined on (band, chunk) — the standing clips are
    never re-decoded, exact Hamming verifies from stored signatures.
    The oracle recomputes both sides' fingerprints from the sample
    arithmetic and takes exact all-pairs (pigeonhole: banded ≡
    all-pairs for d ≤ max_hamming). Completes the served-index
    family's modality matrix: lexical/dedup/vector/graph/sketch/
    substring/image/video-frames/audio."""
    from lol_data_pipeline_spark.operators.phash_index import (
        ensure_phash_index,
        served_phash_pairs,
    )

    path, meta = ensure_phash_index(spark, sf_dir, variant="aud", signer="audio")
    docs = T(spark, sf_dir, "documents")
    twins = docs.filter(F.pmod(F.col("doc_id"), F.lit(10)) == 0).select(
        (F.col("doc_id") + _AUD_SHIFT).alias("media_id"),
        F.col("doc_id").alias("src"),
        F.lit(1).alias("perturb"),
    )
    return served_phash_pairs(spark, path, meta, twins)


def _sql_audio_features() -> str:
    from lol_data_pipeline_spark.operators.multimodal import (
        AHASH_WIN,
        AHASH_WINDOWS,
    )
    from lol_data_pipeline_spark.plans.extensions import SQL_MD5_LONG

    md5a = SQL_MD5_LONG.format(expr="concat('a:', doc_id, ':', i)")
    n = AHASH_WINDOWS * AHASH_WIN
    return f"""
    WITH sel AS (SELECT doc_id FROM documents WHERE doc_id % 7 = 1),
    smp AS (
      SELECT doc_id, ((({md5a}) % 65536) - 32768) AS s
      FROM sel, generate_series(0, {n - 1}) gi(i)
    )
    SELECT CAST(doc_id AS BIGINT) AS media_id,
           CAST({n} AS BIGINT) AS n_samples,
           CAST(max(abs(s)) AS BIGINT) AS peak,
           CAST(sum(abs(s)) AS BIGINT) AS sum_abs
    FROM smp GROUP BY doc_id ORDER BY media_id
    """


@query("mm_audio_features", sql=_sql_audio_features())
def mm_audio_features(spark, sf_dir):
    """REAL sample-tier audio features (the WAV counterpart of the
    un-gated pixel tier): decode the PCM body back out of the RIFF
    bytes and emit sample count, peak amplitude, and integer Σ|s| —
    statistics of the ACTUAL samples, oracle-recomputed from the
    sample arithmetic alone."""
    from collections.abc import Iterator

    import pandas as pd

    from lol_data_pipeline_spark.operators.multimodal import (
        parse_wav_samples,
        synthesize_pcm_wav,
    )

    sel = T(spark, sf_dir, "documents").filter(
        F.pmod(F.col("doc_id"), F.lit(7)) == 1
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["doc_id"]:
                ss = parse_wav_samples(synthesize_pcm_wav(int(i)))
                rows.append(
                    (
                        int(i),
                        len(ss),
                        max(abs(s) for s in ss),
                        sum(abs(s) for s in ss),
                    )
                )
            yield pd.DataFrame(
                rows, columns=["media_id", "n_samples", "peak", "sum_abs"]
            )

    return (
        sel.select("doc_id")
        .mapInPandas(
            kernel,
            schema="media_id bigint, n_samples bigint, peak bigint, sum_abs bigint",
        )
        .orderBy("media_id")
    )


def _sql_chunk_compact() -> str:
    from lol_data_pipeline_spark.plans.round12 import _sql_chunk_upsert

    return _sql_chunk_upsert()


@query("chunk_index_compact", sql=_sql_chunk_compact())
def chunk_index_compact_entry(spark, sf_dir):
    """The LSM FOLD as a first-class lifecycle entry (r14 headline:
    maintenance writes are batch-bounded deltas; this is the
    amortized other half): upsert the clone batch, FORCE the compact
    (delta + tombstones fold into a fresh h-sorted base, logs
    cleared), and re-run the standing clean against the compacted
    artifact. Shares chunk_index_upsert's oracle verbatim — the fold
    must be invisible to every probe. Own index copy
    (variant="cpt")."""
    from lol_data_pipeline_spark.operators import lsm
    from lol_data_pipeline_spark.operators.chunk_index import (
        CHUNKS,
        chunk_index_upsert,
        chunks_path,
        ensure_chunk_index,
        served_chunk_clean,
    )
    from lol_data_pipeline_spark.plans.round12 import (
        _CHUP_HI,
        _CHUP_LO,
        _CHUP_SHIFT,
        _CSD_C,
        _CSD_IDX_WHERE,
    )

    path, meta = ensure_chunk_index(
        spark, sf_dir, variant="cpt", c=_CSD_C, index_where=_CSD_IDX_WHERE
    )
    docs = T(spark, sf_dir, "documents")
    batch = _cloned_docs(
        docs, F.col("doc_id").between(_CHUP_LO, _CHUP_HI - 1), _CHUP_SHIFT
    )
    meta = chunk_index_upsert(spark, path, meta, batch)
    CHUNKS.compact(spark, path)
    assert lsm.lsm_epochs(chunks_path(path)) == []
    probe = docs.filter(F.pmod(F.col("doc_id"), F.lit(5)) == 0)
    return served_chunk_clean(spark, path, meta, probe)
