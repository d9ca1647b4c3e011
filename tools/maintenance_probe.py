"""Measure index MAINTENANCE write cost at 1x vs Kx corpus — the
companion measurement to the r14 LSM conversion (r13 verdict item 6:
"the measurement that makes item 1's before/after visible").

For each of the three families the verdict named (chunk, ngram,
phash) this probe:

- builds the index over sf0.1 documents (1x) and over a Kx salted
  synthesis (tools/scale_probe.py's documents transform — shifted
  ids + per-copy salt tokens, so shingle/chunk structure stays
  block-local);
- upserts the SAME fixed-size batch into both and records wall time,
  bytes written (delta epoch + tombstone epoch), and how many base
  files were touched (must be 0);
- compacts both and records the fold's wall/bytes — the full
  rewrite every batch USED to pay eagerly, now paid once per quota.

Expected curves (SCALE.md): upsert wall/bytes ≈ flat in corpus size
(exponent ~0); compact ∝ corpus — the amortized denominator.

Usage: python tools/maintenance_probe.py [K=8] [out_dir=/tmp/sf_scaled_docs]
Emits one JSON line per (family, scale, op) plus a summary line.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import tools  # noqa: E402,F401  (the root for Spark's workers too)

from pyspark.sql import functions as F  # noqa: E402

from lol_data_pipeline_spark.io import load_table  # noqa: E402
from lol_data_pipeline_spark.operators.lsm import (  # noqa: E402
    delta_path,
    dir_bytes,
    tomb_path,
)
from lol_data_pipeline_spark.session import get_spark  # noqa: E402

BASE = "/root/testdata/sf0.1"
OFF = 10_000_000


def synthesize_docs(spark, k: int, out_dir: str) -> None:
    """K salted copies of sf0.1 documents (the scale_probe transform,
    documents only — these three families read nothing else)."""
    os.makedirs(out_dir, exist_ok=True)
    docs = load_table(spark, BASE, "documents")
    parts = [
        docs.withColumn("doc_id", F.col("doc_id") + i * OFF).withColumn(
            "text",
            F.col("text")
            if i == 0
            else F.regexp_replace(F.col("text"), r"((?:\S+\s+){4})", f"$1zq{i}x "),
        )
        for i in range(k)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.write.mode("overwrite").parquet(os.path.join(out_dir, "documents.parquet"))


def _file_count(d: str) -> int:
    n = 0
    for dirpath, _dirs, files in os.walk(d):
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n


def _file_set(d: str):
    out = set()
    for dirpath, _dirs, files in os.walk(d):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(dirpath, f)
                out.add((p, os.path.getsize(p), os.path.getmtime(p)))
    return out


def probe_family(spark, family: str, sf_dir: str, scale: str, batch) -> list[dict]:
    """Build → upsert(fixed batch) → compact for one family at one
    corpus scale; returns the measurement rows."""
    work = f"/tmp/maint_probe_{family}_{scale}"
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work, exist_ok=True)
    if family == "chunk":
        from lol_data_pipeline_spark.operators.chunk_index import (
            CHUNKS as table,
            build_chunk_index,
            chunk_index_upsert as upsert,
        )

        t0 = time.perf_counter()
        meta = build_chunk_index(spark, sf_dir, work, c=8)
    elif family == "ngram":
        from lol_data_pipeline_spark.operators.chunk_index import (
            NGRAMS as table,
            build_ngram_index,
            ngram_index_upsert as upsert,
        )

        t0 = time.perf_counter()
        meta = build_ngram_index(spark, sf_dir, work, n=5)
    else:  # phash
        from lol_data_pipeline_spark.operators.phash_index import (
            BANDS as table,
            build_phash_index,
            phash_index_upsert as upsert,
        )

        t0 = time.perf_counter()
        meta = build_phash_index(spark, sf_dir, work)
        batch = batch.select(
            F.col("doc_id").alias("media_id"),
            (F.col("doc_id") - 77_000_000).alias("src"),
            F.lit(0).alias("perturb"),
        )

    t_build = time.perf_counter() - t0
    base_dir = table.dir(work)
    base_bytes = dir_bytes(base_dir)
    before = _file_set(base_dir)
    t0 = time.perf_counter()
    upsert(spark, work, meta, batch)
    t_upsert = time.perf_counter() - t0
    touched = len(before ^ (_file_set(base_dir) & before))
    wrote = dir_bytes(delta_path(base_dir)) + dir_bytes(tomb_path(base_dir))
    t0 = time.perf_counter()
    table.compact(spark, work)
    t_compact = time.perf_counter() - t0
    rows = [
        {
            "family": family,
            "scale": scale,
            "op": "build",
            "sec": round(t_build, 3),
            "base_bytes": base_bytes,
            "base_files": len(before),
        },
        {
            "family": family,
            "scale": scale,
            "op": "upsert",
            "sec": round(t_upsert, 3),
            "bytes_written": wrote,
            "base_files_touched": touched,
        },
        {
            "family": family,
            "scale": scale,
            "op": "compact",
            "sec": round(t_compact, 3),
            "bytes_written": dir_bytes(base_dir),
        },
    ]
    for r in rows:
        print(json.dumps(r), flush=True)
    return rows


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sf_scaled_docs"
    spark = get_spark("maintenance_probe")
    synthesize_docs(spark, k, out_dir)
    n = spark.read.parquet(os.path.join(out_dir, "documents.parquet")).count()
    print(json.dumps({"k": k, "docs_scaled": n}), flush=True)
    docs = load_table(spark, BASE, "documents")
    batch = docs.filter(F.col("doc_id") < 40).select(
        (F.col("doc_id") + 77_000_000).alias("doc_id"), "text"
    )
    summary = {}
    for family in ("chunk", "ngram", "phash"):
        one = probe_family(spark, family, BASE, "1x", batch)
        kx = probe_family(spark, family, out_dir, f"{k}x", batch)
        up1 = next(r for r in one if r["op"] == "upsert")
        upk = next(r for r in kx if r["op"] == "upsert")
        cp1 = next(r for r in one if r["op"] == "compact")
        cpk = next(r for r in kx if r["op"] == "compact")
        summary[family] = {
            "upsert_sec_ratio": round(upk["sec"] / up1["sec"], 2),
            "upsert_bytes_ratio": round(
                upk["bytes_written"] / up1["bytes_written"], 2
            ),
            "compact_sec_ratio": round(cpk["sec"] / cp1["sec"], 2),
            "compact_bytes_ratio": round(
                cpk["bytes_written"] / cp1["bytes_written"], 2
            ),
            "base_files_touched": [up1["base_files_touched"],
                                   upk["base_files_touched"]],
        }
    print(json.dumps({"k": k, "summary": summary}), flush=True)


if __name__ == "__main__":
    main()
