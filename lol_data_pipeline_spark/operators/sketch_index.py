"""Materialized daily-HLL sketch index: the (day, idx, m_j) register
table persisted day-partitioned + a JSON sidecar — the SKETCH member
of the served-index family (quantization = vector_index, graph =
graph_index, lexical = text_index, near-dup = minhash_index, exact
substring = chunk_index, mergeable aggregates = this).

sketch_hll_rolling derives the daily registers from raw events every
run; this module is the production rollup shape (how every "rolling
uniques" dashboard actually works): each day's ≤m-register sketch is
computed ONCE when the day's events land, and every window query —
7-day, 28-day, any — is a register-wise MAX merge over the at-rest
day sketches, never a raw-events scan. HLL's register max is
associative AND idempotent, which makes the maintenance trivially
exactly-once: re-ingesting a day's events max-merges to the identical
registers.

- BUILD (once): one distinct (day, user) pass → daily registers,
  written hive-partitioned by ``day`` (the natural incremental unit —
  a daily batch lands in exactly its own partitions), plus the
  params/fingerprint sidecar, written once (no write touches it).
- SERVE: window estimates off the artifact alone (register merge +
  exact-integer harmonic sum — plans/sketches.hll_rolling_estimate,
  the SAME estimate tail the in-query entry runs).
- MAINTAIN: upsert = register-wise MAX merge of a batch's day
  sketches into the touched day partitions (idempotent by the HLL
  merge property); delete = retention drop of whole day partitions,
  chosen from the directory listing. Every read declares
  ``REGS_DDL``, so a table emptied by retention reads as empty
  instead of failing schema inference.

Reference parity: the reference persists fetched documents and
re-serves them (src/api/db.py:23-38) — the same build-once/probe-many
contract, mergeable-aggregate axis.
"""

from __future__ import annotations

import os
import shutil
from datetime import date

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lol_data_pipeline_spark.io import (
    load_table,
    write_overwrite,
    write_upsert_partitions,
)
from lol_data_pipeline_spark.operators import artifact


REGS_DDL = "idx long, m_j int, day date"


def regs_path(path: str) -> str:
    return os.path.join(path, "day_regs")


def _day_regs(ev: DataFrame) -> DataFrame:
    # lazy import: the register derivation lives beside the in-query
    # entry (plans/sketches.hll_day_registers) so served ≡ in-query
    # by construction; importing here avoids a plans→operators cycle
    from lol_data_pipeline_spark.plans.sketches import hll_day_registers

    return hll_day_registers(ev)


def read_regs(spark: SparkSession, path: str) -> DataFrame:
    """The artifact's (day, idx, m_j) register rows, read with the
    declared schema (empty, not an error, after a full retention
    drop)."""
    return spark.read.schema(REGS_DDL).parquet(regs_path(path)).select(
        "day", F.col("idx").cast("long").alias("idx"), "m_j"
    )


def build_hll_index(spark: SparkSession, sf_dir: str, path: str) -> dict:
    """One distinct-pass over events → day-partitioned registers +
    sidecar (HLL params, source fingerprint)."""
    from lol_data_pipeline_spark.plans.sketches import _HLL_M, _HLL_P

    ev = load_table(spark, sf_dir, "events")
    regs = _day_regs(ev).repartition("day").sortWithinPartitions("idx")
    write_overwrite(regs, regs_path(path), partition_by=["day"])
    return artifact.save_meta(path, "hll", {
        "fingerprint": artifact.source_fingerprint(sf_dir, "events"),
        "params": {"p": _HLL_P, "m": _HLL_M},
    })


def ensure_hll_index(
    spark: SparkSession,
    sf_dir: str,
    root: str | None = None,
    variant: str = "",
) -> tuple[str, dict]:
    """Build-if-absent-or-stale (:func:`artifact.ensure`)."""
    from lol_data_pipeline_spark.plans.sketches import _HLL_M, _HLL_P

    return artifact.ensure(
        "hll", sf_dir, "events", {"p": _HLL_P, "m": _HLL_M},
        lambda path: build_hll_index(spark, sf_dir, path),
        root, variant,
    )


def served_hll_rolling(spark: SparkSession, path: str) -> DataFrame:
    """Rolling 7-day estimates from the artifact ALONE: spine = the
    at-rest days, estimate = the shared register-merge tail. No
    events scan, no exact leg — the serving shape (the in-query twin
    carries the exact answer alongside as its error envelope)."""
    from lol_data_pipeline_spark.plans.sketches import hll_rolling_estimate

    day_regs = read_regs(spark, path)
    spine = day_regs.select("day").distinct().withColumnRenamed(
        "day", "report_day"
    )
    return hll_rolling_estimate(day_regs, spine).orderBy("report_day")


def hll_index_upsert(
    spark: SparkSession, path: str, meta: dict, new_events: DataFrame
) -> dict:
    """Merge a batch's day sketches into the artifact: register-wise
    MAX per (day, idx) against the touched days' existing rows, then
    rewrite ONLY those day partitions. Idempotent by HLL's merge
    property — re-ingesting the same events is a no-op. Returns
    ``meta`` unchanged."""
    batch = _day_regs(new_events)
    days = batch.select("day").distinct()
    touched = read_regs(spark, path).join(F.broadcast(days), "day")
    merged = (
        touched.unionByName(batch)
        .groupBy("day", "idx")
        .agg(F.max("m_j").alias("m_j"))
        .localCheckpoint()
    )
    write_upsert_partitions(merged, regs_path(path), ["day"])
    return meta


def hll_index_retention_drop(
    spark: SparkSession, path: str, meta: dict, keep_from
) -> dict:
    """Retention: drop whole day partitions older than ``keep_from``
    (a date) — the take-down shape for pre-aggregated telemetry. The
    days come from the ``day=`` directory names, so the drop starts no
    Spark job. Idempotent. Returns ``meta`` unchanged."""
    root = regs_path(path)
    for name in os.listdir(root):
        if name.startswith("day=") and date.fromisoformat(name[4:]) < keep_from:
            shutil.rmtree(os.path.join(root, name), ignore_errors=True)
    return meta
