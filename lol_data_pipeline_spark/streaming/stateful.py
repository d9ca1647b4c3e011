"""Custom stateful streaming operators via applyInPandasWithState.

``F.window``/``session_window`` cover the declarative cases; this is
the escape hatch for operator semantics Spark lacks: arbitrary
per-key state evolved batch-by-batch (counters, CEP-ish flags,
decayed aggregates). State lives in the state store (checkpointed,
fault-tolerant); the pandas function only ever sees one key's rows.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from lol_data_pipeline_spark.streaming.windows import (
    _events_stream,
    _replay_events,
    run_to_completion,
)

OUTPUT_DDL = "user_id bigint, n_events bigint, sum_value double"
STATE_DDL = "n bigint, s double"

# State-stage parallelism for PYTHON-stateful operators
# (applyInPandasWithState / transformWithState): per-trigger cost is
# per-key Python work, which parallelizes across partitions — 16
# measured best at local replay scale (4→16 halved the topk entries;
# 32 regressed on state-store overhead, see
# windows.run_to_completion). ONE definition instead of a literal at
# every call site (r14 ADVICE); production sizes this to state
# volume. The JVM-stateful window/dedup/join callers keep
# run_to_completion's default of 4 (r12 tuning) — there each extra
# partition is a state-store snapshot per trigger.
PY_STATE_PARTITIONS = 16


def _update_totals(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    n, s = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        s += float(pdf["value"].sum())
    state.update((n, s))
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "sum_value": [s]})


def running_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running totals as a custom stateful operator: state =
    (count, sum) per user, one updated row emitted per key per
    micro-batch."""
    ev = _events_stream(spark, sf_dir)
    agg = ev.groupBy("user_id").applyInPandasWithState(
        _update_totals,
        outputStructType=OUTPUT_DDL,
        stateStructType=STATE_DDL,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return run_to_completion(agg, mode="update", state_partitions=PY_STATE_PARTITIONS)


TOTALS_MB_OUTPUT_DDL = "user_id bigint, n_events bigint, sum_cents bigint"
TOTALS_MB_STATE_DDL = "n bigint, c bigint"


def _update_totals_cents(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-user (count, sum) state in EXACT INTEGER CENTS
    (events.value is 2-dp): integer accumulation is associative, so
    the running total is bit-identical no matter how the replay
    slices the stream — float partial sums could drift at the final
    rounding when the batch split changes the add order."""
    n, c = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        n += len(pdf)
        c += int((pdf["value"] * 100).round().astype("int64").sum())
    state.update((n, c))
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "sum_cents": [c]})


def running_user_totals_multibatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running totals across a FOUR-micro-batch ordered
    replay — the cross-batch twin of :func:`running_user_totals`.
    The (count, cents) state must be restored at every trigger and
    accumulated on top of: if a batch were lost or state reset, the
    final per-key snapshot would carry only the last slice's counts
    and the n_events parity row would fail — identity-dependence a
    single-batch replay cannot provide. The memory sink keeps one
    snapshot per key per batch it appeared in; n_events is strictly
    increasing, so max_by(n_events) selects the final state."""

    def build(stream):
        return stream.groupBy("user_id").applyInPandasWithState(
            _update_totals_cents,
            outputStructType=TOTALS_MB_OUTPUT_DDL,
            stateStructType=TOTALS_MB_STATE_DDL,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

    res = _replay_events(
        spark, sf_dir, ("user_id", "ts", "value"), build, "totals_mb",
        mode="update", state_partitions=PY_STATE_PARTITIONS,
    )
    return (
        res.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max_by("sum_cents", "n_events").alias("c"),
        )
        .select(
            "user_id",
            "n_events",
            (F.col("c") / F.lit(100.0)).alias("sum_value"),
        )
    )


TOPK_OUTPUT_DDL = "user_id bigint, rnk int, value double, event_id bigint"

_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def _topk_merge(cur: list, pdfs: Iterator[pd.DataFrame], k: int) -> list:
    """Merge micro-batch rows into the running top-k list of
    (value, event_id), ordered by value desc then event_id asc (the
    deterministic tie-break the oracle mirrors)."""
    for pdf in pdfs:
        cur.extend(
            zip(pdf["value"].astype("float64"), pdf["event_id"].astype("int64"))
        )
    cur.sort(key=lambda t: (-t[0], t[1]))
    del cur[k:]
    return cur


def _topk_frame(user_id, cur: list) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "user_id": pd.Series([user_id] * len(cur), dtype="int64"),
            "rnk": pd.Series(range(1, len(cur) + 1), dtype="int32"),
            "value": pd.Series([v for v, _ in cur], dtype="float64"),
            "event_id": pd.Series([e for _, e in cur], dtype="int64"),
        }
    )


def _topk_update_fn(k: int, with_counter: bool):
    """The shared GroupState top-k update closure. State = two
    parallel arrays of the current top-k, plus (``with_counter``) an
    update counter so a multi-batch caller can identify each key's
    LAST emitted snapshot among the memory sink's appended updates.
    One implementation for both the single-batch and multi-batch
    entries — merge/tie-break semantics cannot drift apart."""

    def update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if with_counter:
            vals, ids, upd = state.get if state.exists else ((), (), 0)
        else:
            vals, ids = state.get if state.exists else ((), ())
        cur = _topk_merge(list(zip(vals, ids)), pdfs, k)
        new_arrays = ([v for v, _ in cur], [e for _, e in cur])
        frame = _topk_frame(key[0], cur)
        if with_counter:
            upd += 1
            state.update((*new_arrays, upd))
            frame["upd"] = pd.Series([upd] * len(cur), dtype="int64")
        else:
            state.update(new_arrays)
        yield frame

    return update


def running_user_topk(spark: SparkSession, sf_dir: str, k: int = 3) -> DataFrame:
    """Per-user running top-k events by value (applyInPandasWithState,
    GroupState = two parallel arrays of the current top-k).

    Top-k is the canonical "state smaller than the data" stateful
    operator: the store holds k rows per key forever while the stream
    is unbounded — a groupBy+window can't express "k best so far"
    without retaining everything.
    """
    ev = _events_stream(spark, sf_dir)
    out = ev.groupBy("user_id").applyInPandasWithState(
        _topk_update_fn(k, with_counter=False),
        outputStructType=TOPK_OUTPUT_DDL,
        stateStructType="vals array<double>, ids array<bigint>",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # Python-stateful: per-key pandas work parallelizes across
    # partitions — 16 measured best (run_to_completion docstring).
    return run_to_completion(out, mode="update", state_partitions=PY_STATE_PARTITIONS)


def running_user_topk_multibatch(
    spark: SparkSession, sf_dir: str, k: int = 3
) -> DataFrame:
    """Per-user running top-k over a TWO-micro-batch time-ordered
    replay — the multi-batch twin of :func:`running_user_topk`.
    Two triggers, not four: this entry is the bench's single
    multibatch representative and micro-batch scheduling dominates
    its cost (~1.9 s/trigger at sf0.1); ONE batch boundary already
    proves the property this entry exists for — state serialized at
    the end of batch 0 must be restored and merged in batch 1 (most
    users span both time halves, pinned by
    test_multibatch_replay_exercises_cross_batch_state) — so the
    third and fourth triggers bought wall-clock, not signal. The
    other ``*_multibatch`` entries keep four slices, covering
    multi-round-trip scheduling.

    This is the entry that actually exercises GroupState round-trips:
    a user's rows arrive in several micro-batches, so the top-k list
    must be serialized into the state store at the end of one batch
    and merged with new rows in the next; a state codec bug, lost
    update, or wrong merge order changes the final list and fails the
    batch oracle.

    The memory sink in update mode APPENDS each batch's emitted rows,
    so per user there is one top-k snapshot per batch the user
    appeared in; the state carries an update counter and the final
    filter keeps each user's LAST snapshot (a per-user max — a keyed
    aggregate, no global window)."""

    def build(stream):
        return stream.groupBy("user_id").applyInPandasWithState(
            _topk_update_fn(k, with_counter=True),
            outputStructType=TOPK_OUTPUT_DDL + ", upd bigint",
            stateStructType="vals array<double>, ids array<bigint>, upd bigint",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

    # Python-stateful: per-key pandas work parallelizes across
    # partitions — 16 measured best (run_to_completion docstring).
    res = _replay_events(
        spark, sf_dir, ("user_id", "ts", "value", "event_id"), build, "topk_mb",
        mode="update", slices=2, state_partitions=PY_STATE_PARTITIONS,
    )
    last = res.groupBy(F.col("user_id").alias("u")).agg(F.max("upd").alias("last_upd"))
    return (
        res.join(
            last,
            (res["user_id"] == last["u"]) & (res["upd"] == last["last_upd"]),
        )
        .select("user_id", "rnk", "value", "event_id")
    )


def user_topk_values(spark: SparkSession, sf_dir: str, k: int = 3) -> DataFrame:
    """Per-user top-k via ``transformWithStateInPandas`` (Spark 4's
    arbitrary-state API, the successor to applyInPandasWithState): a
    ListState holds the current top-k (value, event_id) pairs per
    user, merged with each micro-batch's rows and re-emitted in
    update mode. Same semantics and oracle as
    :func:`running_user_topk`.

    CONTAINER LIMITATION: the TWS state-server protocol needs
    ``google.protobuf``, which is not installed here and cannot be
    (no pip) — calling this raises at plan-build time with that
    explanation. The code path is real and runs wherever pyspark's
    `connect` extra (protobuf) is present; ``running_user_topk`` is
    the registered, executed variant in this environment.

    The API also requires the RocksDB state store provider; set for
    this run and restored after.
    """
    try:
        import google.protobuf  # noqa: F401
    except ImportError as e:
        raise NotImplementedError(
            "transformWithStateInPandas needs google.protobuf (the TWS "
            "state-server wire protocol); not installed in this container "
            "and pip is unavailable. Use running_user_topk (the "
            "applyInPandasWithState variant with identical semantics)."
        ) from e
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class TopK(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._top = handle.getListState("topk", "value double, event_id bigint")

        def handleInputRows(self, key, rows, timerValues):
            cur = _topk_merge([(float(v), int(e)) for v, e in self._top.get()], rows, k)
            self._top.put([(float(v), int(e)) for v, e in cur])
            yield _topk_frame(key[0], cur)

        def close(self) -> None:
            pass

    ev = _events_stream(spark, sf_dir)
    out = ev.groupBy("user_id").transformWithStateInPandas(
        TopK(),
        outputStructType=TOPK_OUTPUT_DDL,
        outputMode="update",
        timeMode="None",
    )
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", _ROCKSDB_PROVIDER)
    try:
        return run_to_completion(out, mode="update", state_partitions=PY_STATE_PARTITIONS)
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


CDC_OUTPUT_DDL = (
    "user_id bigint, last_ts_us bigint, last_event_id bigint, "
    "last_value double, upd bigint"
)


def _cdc_update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
    """Last-write-wins merge: state = (ts_us, event_id, value, upd)
    of the key's newest event so far, ordered by (ts, event_id) —
    the deterministic tie-break the oracle mirrors. Timestamps ride
    as integer microseconds through state and output so no float or
    tz conversion can perturb the comparison."""
    best = state.get if state.exists else (-1, -1, 0.0, 0)
    ts_us, eid, val, upd = best
    for pdf in pdfs:
        us = (pdf["ts"].astype("int64") // 1000).to_numpy()
        ids = pdf["event_id"].astype("int64").to_numpy()
        vals = pdf["value"].astype("float64").to_numpy()
        for i in range(len(pdf)):
            if (us[i], ids[i]) > (ts_us, eid):
                ts_us, eid, val = int(us[i]), int(ids[i]), float(vals[i])
    upd += 1
    state.update((ts_us, eid, val, upd))
    yield pd.DataFrame(
        {
            "user_id": pd.Series([key[0]], dtype="int64"),
            "last_ts_us": pd.Series([ts_us], dtype="int64"),
            "last_event_id": pd.Series([eid], dtype="int64"),
            "last_value": pd.Series([val], dtype="float64"),
            "upd": pd.Series([upd], dtype="int64"),
        }
    )


def latest_per_key_multibatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC apply: materialize each key's LATEST record
    (last-write-wins by event time, event_id tie-break) across a
    four-micro-batch ordered replay — the streaming SCD1/upsert that
    turns a change stream into a current-state table. State is ONE
    tuple per key regardless of stream volume (the canonical
    state≪data shape, like top-k); a lost batch or wrong
    merge-order comparison surfaces as a stale row vs the batch
    row_number() oracle. The memory sink appends one snapshot per
    key per batch; the update counter keeps each key's last."""

    def build(stream):
        return stream.groupBy("user_id").applyInPandasWithState(
            _cdc_update,
            outputStructType=CDC_OUTPUT_DDL,
            stateStructType="ts_us bigint, eid bigint, val double, upd bigint",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

    res = _replay_events(
        spark, sf_dir, ("user_id", "ts", "value", "event_id"), build, "cdc_mb",
        mode="update", state_partitions=PY_STATE_PARTITIONS,
    )
    last = res.groupBy(F.col("user_id").alias("u")).agg(F.max("upd").alias("last_upd"))
    return (
        res.join(last, (res["user_id"] == last["u"]) & (res["upd"] == last["last_upd"]))
        .select(
            "user_id",
            F.timestamp_micros(F.col("last_ts_us")).alias("last_ts"),
            "last_event_id",
            "last_value",
        )
    )


_ALERT_HI = 100.0
_ALERT_LO = 10.0
ALERT_OUTPUT_DDL = "user_id bigint, ts timestamp, event_id bigint, transition string"


def _alert_update_fn(hi: float, lo: float):
    """Per-user hysteresis state machine: alert turns ON at
    value >= hi, OFF at value <= lo; only TRANSITIONS are emitted
    (edge-triggered — the shape monitoring systems actually want,
    since level-triggered output re-alerts every batch). State is a
    single boolean per user."""

    def fn(key, pdfs, state):
        import pandas as pd

        rows = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        on = bool(state.get[0]) if state.exists else False
        out = []
        for r in rows.itertuples():
            if not on and r.value >= hi:
                on = True
                out.append((key[0], r.ts, r.event_id, "on"))
            elif on and r.value <= lo:
                on = False
                out.append((key[0], r.ts, r.event_id, "off"))
        state.update((on,))
        if out:
            yield pd.DataFrame(
                out, columns=["user_id", "ts", "event_id", "transition"]
            )

    return fn


def alert_transitions_multibatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge-triggered alerting over a FOUR-micro-batch time-ordered
    replay: the per-user ON/OFF hysteresis status must survive the
    state store between batches — a lost or double-applied boolean
    changes WHICH events are transitions, not just counts, so the
    batch state-machine oracle catches it exactly. The emitted set is
    append-only by construction (a transition happens once), so the
    update-mode memory sink's concatenation of per-batch emissions IS
    the final answer — no last-snapshot filter needed, unlike top-k."""

    def build(stream):
        return stream.groupBy("user_id").applyInPandasWithState(
            _alert_update_fn(_ALERT_HI, _ALERT_LO),
            outputStructType=ALERT_OUTPUT_DDL,
            stateStructType="is_on boolean",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

    return _replay_events(
        spark, sf_dir, ("user_id", "ts", "event_id", "value"), build, "alert_mb",
        mode="update", state_partitions=PY_STATE_PARTITIONS,
    )


FRESH_MB_OUTPUT_DDL = "event_type string, n_events bigint, max_ts_us bigint"
FRESH_MB_STATE_DDL = "n bigint, mx bigint"


def _update_feed_freshness(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-feed (count, max-event-time) state: count-merge plus
    MAX-merge, both associative integers, so the running snapshot is
    bit-identical under any batch split. Max-merge is the state
    shape monitoring needs (watermarks, freshness, high-water marks)
    and is NOT exercised by the sum-shaped totals twin: a lost batch
    shows up as a stale max even when later batches arrive."""
    n, mx = state.get if state.exists else (0, -1)
    for pdf in pdfs:
        n += len(pdf)
        if len(pdf):
            mx = max(mx, int(pdf["ts_us"].astype("int64").max()))
    state.update((n, mx))
    yield pd.DataFrame(
        {
            "event_type": [key[0]],
            "n_events": [n],
            "max_ts_us": [mx],
        }
    )


def feed_freshness_multibatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-feed freshness accumulated across a four-micro-batch
    ordered replay: the streaming twin of the batch dq_freshness
    entry. The final per-feed snapshot (count + max event time) must
    equal the batch aggregate — state lost at any trigger surfaces
    as either a short count or a stale high-water mark. The memory
    sink keeps one snapshot per feed per batch; n_events is strictly
    increasing, so max_by(n_events) selects the final state."""

    def build(stream):
        return stream.groupBy("event_type").applyInPandasWithState(
            _update_feed_freshness,
            outputStructType=FRESH_MB_OUTPUT_DDL,
            stateStructType=FRESH_MB_STATE_DDL,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

    res = _replay_events(
        spark, sf_dir, ("event_type", "ts", F.unix_micros("ts").alias("ts_us")),
        build, "fresh_mb", mode="update", state_partitions=PY_STATE_PARTITIONS,
    )
    return res.groupBy("event_type").agg(
        F.max("n_events").alias("n_events"),
        F.max_by("max_ts_us", "n_events").alias("max_ts_us"),
    )
