"""Streaming bench adjudication harness (r12 verdict item 1).

The only queries above 2x their r01 baseline in BENCH_r12.json are
the three streaming entries (stream_tumbling_window 4.27x,
stream_session_window 3.23x, stream_dedup 4.50x) while every batch
entry sits at or under baseline, and the streaming code is unchanged
since r01. Two hypotheses need separating with streaming-specific
evidence:

  (a) session aging — by round 12 the bench session has executed
      100+ queries (and built every served artifact) before the
      streaming entries run at the END of the headline list; listener
      backlog / accumulated memory-sink tables / JVM heap pressure
      could tax micro-batch scheduling specifically.
  (b) host interference — multi-core-level contention (invisible to
      the single-thread calib probe) that hits scheduler-latency-
      bound streaming queries hardest.
  (c) a tree regression between r11 (4edf0a6) and r12 — ruled in or
      out by running BOTH trees interleaved on the same host.

Usage:
  python tools/stream_ab.py --mode fresh          # streaming first
  python tools/stream_ab.py --mode aged --age 50  # after 50 batch queries
Prints ONE JSON line with per-entry min-of-3 (after 1 warm), the
single-thread and 32-way calib probes before/after, and the mode.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _calibrate, _calibrate_mc  # noqa: E402
from lol_data_pipeline_spark.session import get_spark  # noqa: E402
from lol_data_pipeline_spark.plans import REGISTRY  # noqa: E402

STREAM_ENTRIES = ["stream_tumbling_window", "stream_session_window", "stream_dedup"]


def _run(spark, name: str, sf_dir: str, runs: int = 3) -> float:
    REGISTRY[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    best = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        REGISTRY[name].fn(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mode", choices=["fresh", "aged"], default="fresh")
    ap.add_argument("--age", type=int, default=50)
    ap.add_argument("--label", default="")
    args = ap.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    calib0, mc0 = _calibrate(), _calibrate_mc()
    spark = get_spark("stream_ab")
    aged_n = 0
    if args.mode == "aged":
        # replicate the bench session's age: run batch headline
        # entries (single pass each, no timing) before measuring
        import bench

        for name in bench.HEADLINE:
            if aged_n >= args.age:
                break
            if name.startswith("stream_") or name not in REGISTRY:
                continue
            REGISTRY[name].fn(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            aged_n += 1
    entries = {n: _run(spark, n, sf_dir) for n in STREAM_ENTRIES}
    calib1, mc1 = _calibrate(), _calibrate_mc()
    print(
        json.dumps(
            {
                "label": args.label,
                "mode": args.mode,
                "aged_n": aged_n,
                "entries": entries,
                "total": round(sum(entries.values()), 3),
                "calib": [calib0, calib1],
                "calib_mc_wall": [mc0["wall"], mc1["wall"]],
                "calib_mc_max": [mc0["max"], mc1["max"]],
                "sf_dir": sf_dir,
            }
        )
    )


if __name__ == "__main__":
    main()
