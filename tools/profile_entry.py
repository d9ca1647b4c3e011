"""Per-job/stage breakdown for named registry entries (guide §1).

The sandbox runs with spark.ui.enabled=false, so this replaces the
Stages tab: run each named entry to the noop sink with the event log
on, then parse the log and print, per entry, every Spark job with
its wall time, stage names, task counts, and shuffle bytes — the
"which job inside this query is the expensive one" answer.

Usage: python tools/profile_entry.py [sf_dir] name [name ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lol_data_pipeline_spark.plans import REGISTRY  # noqa: E402
from lol_data_pipeline_spark.session import get_spark  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    if args and os.path.isdir(args[0]):
        sf_dir, args = args[0], args[1:]
    names = args
    log_dir = "/tmp/spark-events"
    import shutil

    shutil.rmtree(log_dir, ignore_errors=True)
    os.makedirs(log_dir, exist_ok=True)

    # the event log must be on when the JVM starts
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", "spark.eventLog.enabled=true",
        "--conf", f"spark.eventLog.dir=file://{log_dir}",
        "--conf", "spark.eventLog.compress=false",
        "--conf", "spark.eventLog.rolling.enabled=false",
        "pyspark-shell",
    ])
    spark = get_spark("profile_entry")

    walls: dict[str, list[float]] = {}
    t0s: dict[str, float] = {}
    for name in names:
        fn = REGISTRY[name].fn
        # warm
        spark.sparkContext.setJobDescription(f"{name}::warm")
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        spark.sparkContext.setJobDescription(f"{name}::timed")
        t0 = time.perf_counter()
        t0s[name] = time.time() * 1000.0  # epoch ms, comparable to event log
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        walls.setdefault(name, []).append(time.perf_counter() - t0)
        spark.sparkContext.setJobDescription(None)

    app_id = spark.sparkContext.applicationId
    spark.stop()

    path = os.path.join(log_dir, app_id)
    if not os.path.exists(path):
        cands = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
        path = max(cands, key=os.path.getmtime)
    if os.path.isdir(path):
        # Spark 4 rolling event log: a directory of events_* parts
        parts = sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.startswith("events_")
        )
    else:
        parts = [path]

    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}

    def lines():
        for p in parts:
            with open(p) as f:
                yield from f

    for line in lines():
            ev = json.loads(line)
            et = ev.get("Event")
            if et == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {
                    "desc": ev.get("Properties", {}).get(
                        "spark.job.description", ""
                    ),
                    "t0": ev["Submission Time"],
                    "stages": [s["Stage ID"] for s in ev["Stage Infos"]],
                    "names": {
                        s["Stage ID"]: s["Stage Name"] for s in ev["Stage Infos"]
                    },
                }
            elif et == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in jobs:
                    jobs[jid]["t1"] = ev["Completion Time"]
            elif et == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                sid = si["Stage ID"]
                sub = si.get("Submission Time")
                com = si.get("Completion Time")
                stages[sid] = {
                    "name": si["Stage Name"],
                    "tasks": si["Number of Tasks"],
                    "ms": (com - sub) if (sub and com) else None,
                }

    for name in names:
        print(f"\n=== {name}  wall={min(walls[name]):.3f}s (timed run) ===")
        sel = [
            (jid, j)
            for jid, j in sorted(jobs.items())
            if j["desc"] == f"{name}::timed"
        ]
        total = 0.0
        for jid, j in sel:
            dur = (j.get("t1", j["t0"]) - j["t0"]) / 1000.0
            total += dur
            ran = [s for s in j["stages"] if s in stages]
            stxt = "; ".join(
                f"{stages[s]['name'].split(' at ')[0]}"
                f"[{stages[s]['tasks']}t,{(stages[s]['ms'] or 0)/1000:.2f}s]"
                for s in ran
            )
            print(f"  job {jid}: {dur:6.3f}s  {len(ran)}/{len(j['stages'])} stages: {stxt}")
        print(f"  sum(job walls) = {total:.3f}s over {len(sel)} jobs")
        # Driver-gap timeline: time not covered by ANY job interval
        # (planning, py4j round trips, scheduling), with the largest
        # gaps attributed to the job that follows them.
        if sel:
            ivals = sorted(
                (j["t0"], j.get("t1", j["t0"]), jid) for jid, j in sel
            )
            cur = t0s[name]
            gaps = []
            for s, e, jid in ivals:
                if s > cur:
                    gaps.append((s - cur, jid))
                cur = max(cur, e)
            gaps.sort(reverse=True)
            covered = 0.0
            cur = t0s[name]
            for s, e, _ in ivals:
                if e > cur:
                    covered += e - max(s, cur)
                    cur = e
            wall_ms = min(walls[name]) * 1000.0
            print(
                f"  job-covered={covered/1000:.3f}s  "
                f"driver-gaps={(wall_ms - covered)/1000:.3f}s  "
                f"top gaps: "
                + ", ".join(f"{g/1000:.2f}s->job{jid}" for g, jid in gaps[:6])
            )


if __name__ == "__main__":
    main()
