"""Streaming tests: windows vs batch-equivalent, custom stateful
operator, foreachBatch sink, watermark late-data drop (SURVEY §5.5)."""

from __future__ import annotations

import datetime as dt
import os

import pytest

from pyspark.sql import functions as F

from lol_data_pipeline_spark.io import load_table
from lol_data_pipeline_spark.streaming import windows as sw
from lol_data_pipeline_spark.streaming.sinks import write_stream_foreach_batch
from lol_data_pipeline_spark.streaming.stateful import running_user_totals


def test_tumbling_equals_batch(spark, sf_dir):
    streamed = sw.tumbling_counts(spark, sf_dir)
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "sum_value")
    )
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0


def test_stateful_totals_equal_batch_agg(spark, sf_dir):
    out = running_user_totals(spark, sf_dir)
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
    )
    joined = out.join(batch.withColumnRenamed("n_events", "bn").withColumnRenamed(
        "sum_value", "bs"), "user_id")
    assert joined.filter(F.col("n_events") != F.col("bn")).count() == 0
    assert joined.filter(F.abs(F.col("sum_value") - F.col("bs")) > 1e-6).count() == 0


def test_foreach_batch_sink_writes_epochs(spark, sf_dir, tmp_path):
    ev = sw._events_stream(spark, sf_dir)
    agg = ev.groupBy("event_type").agg(F.count("*").alias("n"))
    out = str(tmp_path / "fb")
    epochs = write_stream_foreach_batch(agg, out, mode="update")
    assert epochs  # at least one micro-batch ran
    written = spark.read.parquet(f"{out}/epoch={epochs[-1]}")
    assert written.count() == 5  # five event types


def _write_events(spark, path, rows):
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long, value double")
    df.coalesce(1).write.mode("append").parquet(path)


def test_watermark_drops_late_data(spark, tmp_path):
    """Append-mode window agg with a 10-minute watermark: events
    older than (max_seen - 10min) arriving in a later batch must be
    dropped, and windows only emit once finalized."""
    src = str(tmp_path / "late_src")
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def ts(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    _write_events(spark, src, [(1, ts(5), 1, 1.0), (2, ts(65), 1, 1.0)])
    stream = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, value double"
    ).option("maxFilesPerTrigger", 1).parquet(src)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    import uuid

    qname = f"late_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(qname)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: one on-time event + one LATE event (ts(2) is far
        # behind the watermark, now at ts(65) - 10min = ts(55))
        _write_events(spark, src, [(3, ts(2), 1, 99.0), (4, ts(70), 1, 1.0)])
        q.processAllAvailable()
        # a third file pushes the watermark so the 60-90 window can emit
        _write_events(spark, src, [(5, ts(200), 1, 1.0)])
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r.ws: r.n for r in spark.table(qname).collect()}
    first_window = t0
    # the late event (ts=2min) must NOT have been added to the first
    # window — it stays at n=1 (only event_id=1)
    assert got.get(first_window) == 1, got


def test_late_data_drop_actually_drops(spark, sf_dir):
    """The stream_late_data_drop entry must really discard the late
    replay batch: total streamed rows == on-time rows only, strictly
    fewer than the full-table aggregate (which is what you'd get if
    the watermark were removed)."""
    out = sw.late_data_drop(spark, sf_dir)
    streamed_total = out.agg(F.sum("n")).first()[0]
    ev = load_table(spark, sf_dir, "events")
    on_time = ev.filter(F.col("event_id") % 7 != 0).count()
    full = ev.count()
    assert streamed_total == on_time
    assert streamed_total < full


def test_left_outer_join_null_extends_only_evicted_clicks(spark, sf_dir):
    from pyspark.sql import functions as F

    from lol_data_pipeline_spark.io import load_table
    from lol_data_pipeline_spark.streaming.windows import click_purchase_left_join

    out = click_purchase_left_join(spark, sf_dir)
    nulls = out.filter(F.col("purchase_id").isNull())
    ev = load_table(spark, sf_dir, "events")
    wm = ev.agg(F.max("ts")).first()[0]
    import datetime as dt

    cutoff = wm - dt.timedelta(hours=1) - dt.timedelta(minutes=30)
    # every null-extended click expired below the final watermark
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
    )
    late = (
        nulls.join(clicks, "click_id")
        .filter(F.col("click_ts") >= F.lit(cutoff))
        .count()
    )
    assert late == 0
    # inner matches are a subset of the left-outer result
    from lol_data_pipeline_spark.streaming.windows import click_purchase_join

    inner = click_purchase_join(spark, sf_dir).count()
    assert out.filter(F.col("purchase_id").isNotNull()).count() == inner


def test_checkpoint_recovery_exactly_once(spark, tmp_path):
    """Stop/restart from the same checkpoint must deliver every row
    exactly once through the epoch-keyed foreachBatch sink: the
    restarted query resumes at the committed offset (no re-emission
    of finished batches; an uncommitted batch replays onto the same
    epoch dir, which overwrite makes idempotent)."""
    import os

    from pyspark.sql import functions as F

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    def add_file(i):
        spark.range(i * 100, (i + 1) * 100).select(
            F.col("id").alias("event_id")
        ).coalesce(1).write.mode("append").parquet(src)

    def sink(batch_df, epoch_id):
        batch_df.write.mode("overwrite").parquet(f"{out}/epoch={epoch_id}")

    def run_once():
        stream = (
            spark.readStream.schema("event_id long")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            stream.writeStream.outputMode("append")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    add_file(0)
    add_file(1)
    run_once()  # first incarnation: 2 files
    add_file(2)
    add_file(3)
    run_once()  # restart from the SAME checkpoint: only new files

    written = spark.read.parquet(f"{out}/epoch=*")
    assert written.count() == 400  # no duplicates...
    assert written.select("event_id").distinct().count() == 400  # ...no losses


def test_time_slices_are_ordered_and_cover(spark, sf_dir):
    """The multi-batch stager's slices must be non-empty, disjoint,
    time-ordered, and cover every row — otherwise the 'multi-batch'
    replay silently degenerates to fewer real batches."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    parts = sw.time_slices(ev, "ts", 4)
    total = ev.count()
    stats = [
        p.agg(
            F.count("*").alias("n"), F.min("ts").alias("lo"), F.max("ts").alias("hi")
        ).first()
        for p in parts
    ]
    assert sum(s["n"] for s in stats) == total
    assert all(s["n"] > 0 for s in stats)
    for a, b in zip(stats, stats[1:]):
        assert a["hi"] <= b["lo"], (a, b)


def test_multibatch_replay_exercises_cross_batch_state(spark, sf_dir):
    """The state-store claim, verified on the data: many users (and
    hour windows) span multiple time slices, so the stateful top-k /
    tumbling entries really do restore state across micro-batches —
    if every key sat inside one slice, the multi-batch replay would
    regress nothing."""
    ev = load_table(spark, sf_dir, "events")
    parts = sw.time_slices(ev, "ts", 4)
    tagged = None
    for i, p in enumerate(parts):
        t = p.select("user_id", F.date_trunc("hour", "ts").alias("hw")).withColumn(
            "slice", F.lit(i)
        )
        tagged = t if tagged is None else tagged.unionAll(t)
    multi_users = (
        tagged.groupBy("user_id")
        .agg(F.countDistinct("slice").alias("ns"))
        .filter(F.col("ns") >= 2)
        .count()
    )
    multi_windows = (
        tagged.groupBy("hw")
        .agg(F.countDistinct("slice").alias("ns"))
        .filter(F.col("ns") >= 2)
        .count()
    )
    assert multi_users > 0, "no user spans two micro-batches"
    assert multi_windows > 0, "no hour window spans two micro-batches"


def test_replay_multibatch_rejects_mismatched_part_schema(spark):
    """The replay reads every staged file with parts[0]'s schema, so a
    part with other columns or types is refused before anything is
    staged or run, naming the first part that differs."""
    good = spark.createDataFrame([(1, 1.0)], "event_id long, value double")
    bad = spark.createDataFrame([(2, "x")], "event_id long, value string")
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    before = sched.nextJobId()

    def build(stream):
        raise AssertionError("build must not run on mismatched parts")

    with pytest.raises(ValueError, match=r"part 2 has schema struct<event_id:bigint,value:string>"):
        sw.replay_multibatch(spark, [good, good, bad, good], build, "append", "schema_check")
    assert sched.nextJobId() == before


def test_stateful_checkpoint_recovery_restores_group_state(spark, tmp_path):
    """Restarting an applyInPandasWithState query from its checkpoint
    must RESTORE per-key state, not rebuild it from zero: user totals
    accumulated in the first incarnation keep accumulating in the
    second, and the final per-user numbers equal the batch aggregate
    over everything both incarnations saw."""
    import os

    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    from lol_data_pipeline_spark.streaming.stateful import (
        OUTPUT_DDL,
        STATE_DDL,
        _update_totals,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    def add_file(i):
        # every file touches EVERY user, so second-incarnation batches
        # only give the right totals if first-incarnation state survived
        spark.range(10).select(
            F.col("id").alias("user_id"),
            (F.col("id") + 100.0 * i).alias("value"),
        ).coalesce(1).write.mode("append").parquet(src)

    def sink(batch_df, epoch_id):
        batch_df.write.mode("overwrite").parquet(f"{out}/epoch={epoch_id}")

    def run_once():
        stream = (
            spark.readStream.schema("user_id long, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        agg = stream.groupBy("user_id").applyInPandasWithState(
            _update_totals,
            outputStructType=OUTPUT_DDL,
            stateStructType=STATE_DDL,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        q = (
            agg.writeStream.outputMode("update")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    add_file(0)
    add_file(1)
    run_once()  # incarnation 1: state = totals over files 0-1
    add_file(2)
    add_file(3)
    run_once()  # restart from SAME checkpoint: must resume, not reset

    upd = spark.read.option("basePath", out).parquet(f"{out}/epoch=*")
    last = upd.groupBy(F.col("user_id").alias("u")).agg(F.max("epoch").alias("e"))
    final = upd.join(
        last, (upd["user_id"] == last["u"]) & (upd["epoch"] == last["e"])
    ).select("user_id", "n_events", "sum_value")

    truth = (
        spark.read.parquet(src)
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
    )
    got = {r["user_id"]: (r["n_events"], r["sum_value"]) for r in final.collect()}
    want = {r["user_id"]: (r["n_events"], r["sum_value"]) for r in truth.collect()}
    assert got == want  # state survived the restart


def test_time_slices_route_null_ts_and_collapse_dup_bounds(spark):
    """Review-pinned edge cases: NULL order_col rows must land in the
    FIRST slice (not vanish from all), and heavy skew (duplicate
    quantile bounds) must degrade to fewer NON-EMPTY slices."""
    import datetime as dt

    from pyspark.sql import functions as F

    base = dt.datetime(2024, 1, 1)
    # 90% of rows on one second -> quantile bounds collapse
    rows = [(i, base) for i in range(90)]
    rows += [(100 + i, base + dt.timedelta(hours=i + 1)) for i in range(10)]
    rows += [(990, None), (991, None)]
    ev = spark.createDataFrame(rows, "event_id long, ts timestamp")
    parts = sw.time_slices(ev, "ts", 4)
    assert sum(p.count() for p in parts) == ev.count()  # full coverage
    assert all(p.count() > 0 for p in parts)  # no empty staged batch
    assert parts[0].filter(F.col("ts").isNull()).count() == 2  # NULLs in slice 0


def test_alert_transitions_alternate_per_user(spark):
    """Per user, transitions strictly alternate on/off/on/... starting
    with 'on' (initial state is OFF) — the hysteresis invariant that
    breaks if the boolean state is lost or double-applied between
    micro-batches."""
    from lol_data_pipeline_spark.plans import REGISTRY
    from tests.conftest import SF_SMALL as SF

    rows = REGISTRY["stream_alert_multibatch"].fn(spark, SF).collect()
    assert rows
    by_user = {}
    for r in sorted(rows, key=lambda r: (r["user_id"], r["ts"], r["event_id"])):
        by_user.setdefault(r["user_id"], []).append(r["transition"])
    for u, seq in by_user.items():
        assert seq[0] == "on", (u, seq[:3])
        for a, b in zip(seq, seq[1:]):
            assert a != b, (u, seq)


def test_dedup_multibatch_state_crosses_batches(spark, sf_dir):
    """The multibatch dedup twin is identity-dependent on cross-batch
    state: deduping each slice INDEPENDENTLY (= what a state-store
    loss at a trigger boundary degrades to) yields strictly more rows
    than the batch DISTINCT, while the streaming replay matches it
    exactly — so a broken state restore cannot pass the oracle."""
    from lol_data_pipeline_spark.streaming.windows import (
        streaming_dedup_multibatch,
        time_slices,
    )

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    distinct = ev.select("user_id", "event_type").distinct().count()
    independent = sum(
        p.select("user_id", "event_type").distinct().count()
        for p in time_slices(ev, "ts", 4)
    )
    assert independent > distinct  # pairs DO recur across slices
    assert streaming_dedup_multibatch(spark, sf_dir).count() == distinct


def test_totals_multibatch_state_accumulates(spark, sf_dir):
    """The multibatch totals twin must carry (count, cents) state
    across triggers: the final snapshot equals the batch aggregate,
    and the last slice alone (= state reset at the final trigger)
    undercounts — so the oracle discriminates lost state."""
    from lol_data_pipeline_spark.streaming.stateful import (
        running_user_totals_multibatch,
    )
    from lol_data_pipeline_spark.streaming.windows import time_slices

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    out = running_user_totals_multibatch(spark, sf_dir)
    batch = ev.groupBy("user_id").agg(F.count("*").alias("bn"))
    joined = out.join(batch, "user_id")
    assert joined.filter(F.col("n_events") != F.col("bn")).count() == 0
    last_slice = time_slices(ev, "ts", 4)[-1]
    assert last_slice.count() < ev.count()  # a reset would undercount


def test_drain_removes_its_checkpoints(spark, tmp_path, monkeypatch):
    """Every bounded query removes its checkpoint once it has stopped:
    the memory sink, both replay sink shapes and the epoch-dir
    foreachBatch sink each make one checkpoint through the module's
    ``_ckpt_dir`` and leave none behind."""
    import tempfile

    from pyspark.sql import Row

    made = []

    def ckpt_dir():
        made.append(tempfile.mkdtemp(prefix="ckpt_", dir=tmp_path))
        return made[-1]

    monkeypatch.setattr(sw, "_ckpt_dir", ckpt_dir)
    schema = "event_id long, event_type string"
    src = str(tmp_path / "src")
    spark.createDataFrame([(1, "a"), (2, "a"), (3, "b")], schema).coalesce(
        1
    ).write.parquet(src)

    def counts():
        return spark.readStream.schema(schema).parquet(src).groupBy("event_type").count()

    got = sw.run_to_completion(counts()).collect()
    assert sorted(got) == [Row(event_type="a", count=2), Row(event_type="b", count=1)]
    parts = [spark.createDataFrame([(i, "a")], schema) for i in range(2)]
    assert sw.replay_multibatch(spark, parts, lambda s: s, "append", "ckpt_mem").count() == 2
    seen = []
    sw.replay_multibatch(
        spark, parts, lambda s: s, "append", "ckpt_fb",
        foreach_batch=lambda df, epoch_id: seen.append(epoch_id),
    )
    assert len(seen) == 2
    assert write_stream_foreach_batch(counts(), str(tmp_path / "fb"))
    assert len(made) == 4
    assert not list(tmp_path.glob("ckpt_*"))


@pytest.mark.parametrize(
    "single, replayed",
    [
        ("stream_tumbling_window", "stream_tumbling_multibatch"),
        ("stream_sliding_window", "stream_sliding_multibatch"),
        ("stream_session_window", "stream_session_multibatch"),
        ("stream_dedup", "stream_dedup_multibatch"),
        ("stream_join_click_purchase", "stream_join_multibatch"),
        ("stream_user_topk", "stream_topk_multibatch"),
        ("stream_join_left_outer", "stream_join_left_outer_multibatch"),
    ],
)
def test_twin_entries_share_one_oracle(single, replayed):
    """A replayed entry must reproduce its single-trigger twin's
    answer, so both are checked against the same oracle."""
    from lol_data_pipeline_spark.plans import REGISTRY

    assert REGISTRY[single].sql
    assert REGISTRY[single].sql == REGISTRY[replayed].sql
