"""Pluggable document-store sink (batch K1 beyond parquet).

The reference's sink is MongoDB truncate-and-load: ``delete_many({})``
then ``insert_many(docs)`` (reference src/api/db.py:23-38). The
engine's default K1 is parquet ``mode("overwrite")`` (io.py), which
reproduces those semantics on object storage; this module is the
adapter for when the target really is a document/row store.

Shape of the adapter (the same shape a Mongo/JDBC foreach sink has):

- truncate runs ONCE, driver-side, before any insert;
- inserts run per-partition in executor Python workers, each
  partition opening its own connection (``connect`` is a picklable
  zero-arg factory) and writing one batched transaction — the
  standard distributed-writer pattern: N partitions → N concurrent
  writers, no driver funnel, no per-row round trips;
- rows are serialized as JSON documents (one ``TEXT`` column), the
  document-store shape, with non-JSON types (dates, timestamps,
  bytes) stringified.

The test target is sqlite3 (stdlib; the container has no mongod) —
WAL mode + busy timeout make the concurrent per-partition writers
serialize correctly. A production Mongo adapter swaps ``connect``
and the two SQL statements for ``delete_many``/``insert_many``; the
Spark side is unchanged.

The streaming variant routes through the same per-batch writer under
``foreachBatch`` with delete-by-epoch idempotence (retried epochs
replace themselves — exactly-once on replay, mirroring
streaming/sinks.py's overwrite-per-epoch parquet pattern).
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterator
from typing import Any

from pyspark.sql import DataFrame, Row


def _doc(row: Row) -> str:
    return json.dumps(row.asDict(recursive=True), default=str, sort_keys=True)


def _ensure_collection(conn: Any, collection: str) -> None:
    conn.execute(
        f"CREATE TABLE IF NOT EXISTS {collection} "
        "(_id INTEGER PRIMARY KEY AUTOINCREMENT, epoch BIGINT, doc TEXT NOT NULL)"
    )


def _insert_partition(
    rows: Iterator[Row], connect: Callable[[], Any], collection: str, epoch: int | None
) -> None:
    docs = [(epoch, _doc(r)) for r in rows]
    if not docs:
        return
    conn = connect()
    try:
        _ensure_collection(conn, collection)
        conn.executemany(
            f"INSERT INTO {collection} (epoch, doc) VALUES (?, ?)", docs
        )
        conn.commit()
    finally:
        conn.close()


def write_truncate_and_load(
    df: DataFrame, connect: Callable[[], Any], collection: str
) -> None:
    """K1 truncate-and-load into a document store (reference
    db.py:23-38 semantics): one driver-side truncate, then
    per-partition batched inserts from executors."""
    conn = connect()
    try:
        _ensure_collection(conn, collection)
        conn.execute(f"DELETE FROM {collection}")  # delete_many({})
        conn.commit()
    finally:
        conn.close()

    df.foreachPartition(
        lambda rows: _insert_partition(rows, connect, collection, epoch=None)
    )


def write_stream_doc_store(
    agg: DataFrame,
    connect: Callable[[], Any],
    collection: str,
    mode: str = "update",
) -> list[int]:
    """Streaming variant: each micro-batch lands via the same
    per-partition writer, prefixed by a delete-of-this-epoch so a
    replayed batch replaces itself instead of duplicating (the
    foreachBatch exactly-once idiom). Returns epochs written."""
    from lol_data_pipeline_spark.streaming.windows import _drain

    seen: list[int] = []

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        seen.append(epoch_id)
        conn = connect()
        try:
            _ensure_collection(conn, collection)
            conn.execute(f"DELETE FROM {collection} WHERE epoch = ?", (epoch_id,))
            conn.commit()
        finally:
            conn.close()
        batch_df.foreachPartition(
            lambda rows: _insert_partition(rows, connect, collection, epoch=epoch_id)
        )

    _drain(agg.writeStream.outputMode(mode).foreachBatch(sink))
    return seen


def sqlite_connect(db_path: str) -> Callable[[], Any]:
    """Picklable connection factory for the sqlite test target: WAL
    journal + busy timeout so N concurrent partition writers
    serialize instead of erroring on the write lock."""
    import functools

    return functools.partial(_sqlite_open, db_path)


def _sqlite_open(db_path: str):
    import sqlite3

    conn = sqlite3.connect(db_path, timeout=60.0)
    conn.execute("PRAGMA journal_mode=WAL")
    conn.execute("PRAGMA busy_timeout=60000")
    return conn
