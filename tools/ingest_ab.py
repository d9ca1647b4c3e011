"""ref_ingest_pipeline bench adjudication (r13 verdict item 3).

The driver's BENCH_r13 run has ref_ingest_pipeline at 3.79 s = 2.67×
its r01 record — the sole >2× entry — with unchanged code, while the
same record's own calib_mc wall degraded 0.600→1.116 through the run.
Same protocol as tools/stream_ab.py, entry-specific: min-of-3 (after
1 warm) for the entry AND a cheap no-op control (ref_dedup_distinct,
whose driver reading is at baseline), in BOTH session shapes (fresh:
first thing in a new session; aged: after replaying the bench's batch
prefix the way the driver's session ages), with single-thread and
32-way calib probes before/after. An interference draw shows the
calib_mc wall elevated with entry AND control moving together; a tree
regression shows the entry high in every shape with quiet calib.

Usage:
  python tools/ingest_ab.py --mode fresh
  python tools/ingest_ab.py --mode aged --age 50
Prints ONE JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _calibrate, _calibrate_mc  # noqa: E402
from tools.stream_ab import _run  # noqa: E402

ENTRY = "ref_ingest_pipeline"
CONTROL = "ref_dedup_distinct"


def main() -> None:
    from lol_data_pipeline_spark.plans import REGISTRY
    from lol_data_pipeline_spark.session import get_spark

    ap = argparse.ArgumentParser()
    ap.add_argument("--mode", choices=["fresh", "aged"], default="fresh")
    ap.add_argument("--age", type=int, default=50)
    ap.add_argument("--label", default="")
    args = ap.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    calib0, mc0 = _calibrate(), _calibrate_mc()
    spark = get_spark("ingest_ab")
    aged_n = 0
    if args.mode == "aged":
        import bench

        for name in bench.HEADLINE:
            if aged_n >= args.age:
                break
            if name.startswith("stream_") or name not in REGISTRY:
                continue
            if name in (ENTRY, CONTROL):
                continue
            REGISTRY[name].fn(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            aged_n += 1
    # interleave entry/control reps so a contention burst cannot hit
    # only one of them
    t_entry, t_control = [], []
    for _ in range(3):
        t_entry.append(_run(spark, ENTRY, sf_dir, runs=1))
        t_control.append(_run(spark, CONTROL, sf_dir, runs=1))
    calib1, mc1 = _calibrate(), _calibrate_mc()
    print(
        json.dumps(
            {
                "label": args.label,
                "mode": args.mode,
                "aged_n": aged_n,
                "entry": ENTRY,
                "entry_min": min(t_entry),
                "entry_runs": t_entry,
                "control": CONTROL,
                "control_min": min(t_control),
                "control_runs": t_control,
                "calib": [calib0, calib1],
                "calib_mc_wall": [mc0["wall"], mc1["wall"]],
                "calib_mc_max": [mc0["max"], mc1["max"]],
                "sf_dir": sf_dir,
            }
        )
    )


if __name__ == "__main__":
    main()
