"""Streaming sinks: foreachBatch for exactly-once batch-style writes.

The memory sink (windows.run_to_completion) is for tests/oracles;
real deployments write through foreachBatch so each micro-batch can
use the full batch writer API (overwrite-by-epoch = idempotent
replay, the standard exactly-once pattern on object storage).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame

from lol_data_pipeline_spark.streaming.windows import _drain, replay_multibatch


def _write_epoch(df: DataFrame, out_dir: str, epoch_id: int) -> None:
    df.write.mode("overwrite").parquet(os.path.join(out_dir, f"epoch={int(epoch_id)}"))


def write_stream_foreach_batch(
    agg: DataFrame, out_dir: str, mode: str = "update"
) -> list[int]:
    """Run a streaming aggregation to completion, writing each
    micro-batch to ``out_dir/epoch=N`` via foreachBatch. Returns the
    epoch ids written. Overwrite-per-epoch makes retried batches
    idempotent (exactly-once on replay)."""
    seen: list[int] = []

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        seen.append(epoch_id)
        _write_epoch(batch_df, out_dir, epoch_id)

    _drain(agg.writeStream.outputMode(mode).foreachBatch(sink))
    return seen


def replay_epochs(spark, parts, fn, out_dir: str, key: str) -> DataFrame:
    """The epoch sink: replay ``parts`` as ordered micro-batches
    (windows.replay_multibatch), overwrite ``out_dir/epoch=N`` with
    ``fn(batch)`` for each epoch N, and read every epoch back.
    ``out_dir`` is emptied first. A replayed epoch rewrites identical
    content, so the union of epochs is exactly-once by idempotence;
    for a per-batch-stateless ``fn`` it equals ``fn`` over the whole
    input."""
    shutil.rmtree(out_dir, ignore_errors=True)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        _write_epoch(fn(batch_df), out_dir, epoch_id)

    replay_multibatch(
        spark, parts, lambda stream: stream, "append", key, foreach_batch=sink
    )
    return spark.read.parquet(out_dir)


def incremental_view_multibatch(spark, sf_dir: str):
    """Streaming incremental VIEW MAINTENANCE: a running aggregate
    (event_type → row count, value sum) kept up to date across a
    four-micro-batch ordered replay by merging each batch's PARTIAL
    aggregate into the at-rest state — sum-of-sums / count-of-counts,
    the algebraic-merge property that lets a materialized aggregate
    absorb new data without rescanning history (the streaming twin
    of `rel_incremental_agg_merge`).

    Per epoch the foreachBatch sink aggregates ONLY that batch
    (partial state is O(groups), the batch is never retained),
    unions it with the previous version's state and writes version
    N — versioned writes make a replayed epoch idempotent
    (re-merging from version N−1 overwrites the same version N, the
    classic exactly-once-on-object-storage pattern). The final
    answer materializes O(groups) rows on the driver, never data.

    At 100 TB this is the production shape for continuous
    aggregates: state size is group cardinality regardless of
    stream volume, each merge touches state + one batch, and the
    whole history is never re-read. The oracle is the from-scratch
    batch aggregate — a lost batch, double merge, or non-associative
    partial would diverge.
    """
    import tempfile

    from pyspark.sql import functions as F

    from lol_data_pipeline_spark.io import load_table
    from lol_data_pipeline_spark.streaming.windows import time_slices

    ev = load_table(spark, sf_dir, "events").select("event_type", "value", "ts")
    parts = time_slices(ev, "ts", n=4)
    state_root = tempfile.mkdtemp(prefix="incr_view_state_")

    def merge_batch(batch_df: DataFrame, epoch_id: int) -> None:
        partial = batch_df.groupBy("event_type").agg(
            F.count("*").cast("long").alias("n"),
            F.sum("value").alias("s"),
        )
        prev = os.path.join(state_root, f"v{epoch_id - 1}")
        if os.path.exists(prev):
            partial = partial.unionByName(
                batch_df.sparkSession.read.parquet(prev)
            ).groupBy("event_type").agg(
                F.sum("n").cast("long").alias("n"), F.sum("s").alias("s")
            )
        partial.write.mode("overwrite").parquet(
            os.path.join(state_root, f"v{epoch_id}")
        )

    try:
        replay_multibatch(
            spark,
            parts,
            build=lambda stream: stream,
            mode="append",
            key=f"incr_view:{sf_dir}",
            foreach_batch=merge_batch,
        )
        versions = sorted(
            (d for d in os.listdir(state_root) if d.startswith("v")),
            key=lambda d: int(d[1:]),
        )
        assert versions, "no state version written"
        final = spark.read.parquet(os.path.join(state_root, versions[-1]))
        # Round in Spark (SQL half-away-from-zero, matching the
        # oracle's round()) — Python's round() is banker's rounding.
        # O(groups) driver materialization so the temp state dir can
        # be removed before returning the (lazy) result.
        rows = [
            (r["event_type"], r["n"], r["sv"])
            for r in final.select(
                "event_type", "n", F.round("s", 2).alias("sv")
            ).collect()
        ]
        return spark.createDataFrame(
            rows, "event_type string, n bigint, sum_value double"
        )
    finally:
        # the replay harness cleans its own staging; only the
        # versioned state dir is ours to remove
        shutil.rmtree(state_root, ignore_errors=True)
