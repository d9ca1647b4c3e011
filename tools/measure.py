"""One measuring tool for registry entries: time, profile, plans.

    python tools/measure.py time [--sf DIR] [--aged N] NAME...
    python tools/measure.py profile [--sf DIR] NAME...
    python tools/measure.py plans [--sf DIR] [--out DIR --suffix S NAME...]

Every run is bench.py's ``noop_run``: the bench's session and sink,
plan construction included. ``plans`` without names rewrites PLANS.md
from SHOWCASE (as committed: ``--sf /root/testdata/sf0.01``); with
names it writes DIR/NAME_S.txt. ``--sf`` defaults to
$SPARK_GRAFT_SF_DIR, else /root/testdata/sf0.1.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools import ROOT  # noqa: E402  (also the root for Spark's workers)
from bench import HEADLINE, _calibrate, _calibrate_mc, noop_run  # noqa: E402
from lol_data_pipeline_spark.io import DEFAULT_SF_DIR  # noqa: E402
from lol_data_pipeline_spark.plans import REGISTRY  # noqa: E402
from lol_data_pipeline_spark.session import get_spark  # noqa: E402

ROUNDS = 3

SHOWCASE = [
    ("rel_q1_pricing", "scan→filter(pushed)→partial/final agg; zero joins"),
    ("rel_q3_shipping", "3-table join: dims broadcast, no cartesian"),
    ("rel_q6_forecast_revenue", "full predicate pushdown to parquet scan"),
    ("rel_asof_join", "one-shuffle union-tag as-of join (no pandas cogroup)"),
    ("rel_agg_salted", "two-phase skew-safe aggregation (key+salt, then key)"),
    ("dedup_minhash_lsh", "persisted shingle pass, banded LSH self-join"),
    ("ann_ivf_topk", "broadcast centroids, cell-pruned candidate scan"),
    ("sketch_quantile_hist", "1-row bounds broadcast; cumulative over 64 bins"),
    ("graph_triangles", "degree-oriented equi-joins only (no OR-join NLJ)"),
    ("rel_funnel_steps", "all stages keyed on user_id; AQE broadcasts firsts"),
    ("text_search_bm25", "TakeOrderedAndProject top-k + k×k rank (no global window)"),
    ("rel_q15_top_supplier", "scalar-max broadcast + join (no global rank window)"),
    ("dedup_substring", "posting-list window dedup: only (doc_id, h) longs shuffle"),
    ("emb_knn_graph", "persisted coded corpus; bucket self-join is an equi-join"),
    ("rel_gap_fill_locf", "generated spine (1-row bounds broadcast); keyed LOCF window"),
    ("text_tfidf_topterms", "tf/df from one explode; WindowGroupLimit per-doc top-3"),
    ("rel_skyline_parts", "banded pruning; dominance NLJ runs on candidates only"),
    ("stat_ks_drift", "1-row bounds broadcast; 20 counters/group, no sort"),
    ("rel_rolling_wau", "active-pairs collapse first; bounded ×7 day fan-out"),
    ("rel_interval_overlap", "keyless overlap join made equi by day-bucketing"),
    ("text_unigram_loglik", "TakeOrderedAndProject vocab cap; broadcast model join"),
    ("rel_bloom_prejoin", "bitmask broadcast; bit-test projection before the shuffle"),
    ("sketch_hll_rolling", "day-grain register sketches; window = register-wise max"),
    ("ann_hybrid_rerank", "BM25 stage + 50-candidate-bounded rerank/RRF windows"),
    ("corpus_length_buckets", "per-row ladder CASE; ≤4-group constant-state agg"),
    ("corpus_dedup_softweight", "groupBy sizes (map-side combine) + AQE-decided join-back"),
    ("ann_filtered_topk", "label predicate pushed to scan BEFORE scoring; bounded rank"),
    ("ann_ivfpq_topk", "probe-pruned cells + pure-projection PQ encode; ADC then bounded rescore"),
    ("ann_ivf_kmeans_topk", "trained literal centroids: assignment is a join-free projection"),
    ("ann_ivfpq_served_topk", "persisted index: PartitionFilters prune to probed cells; codes-only ReadSchema"),
    ("corpus_quality_logreg", "served sidecar weights as literals: scoring is one pure projection + TakeOrdered"),
    ("corpus_semdedup", "2-column index scan supplies cells; pair join is cell-equi, never corpus NLJ"),
]


def cmd_time(args) -> None:
    """Age the session by ``--aged`` untimed batch headline runs, warm
    every name, then time ROUNDS interleaved rounds, so a burst of host
    contention hits every name alike; calibration probes before/after."""
    calib, mc = _calibrate(), _calibrate_mc()
    spark = get_spark("measure")
    ageing = [n for n in HEADLINE if not n.startswith("stream_") and n not in args.names]
    for name in ageing[: args.aged] + args.names:
        noop_run(spark, args.sf, name)
    runs: dict[str, list[float]] = {n: [] for n in args.names}
    for _ in range(ROUNDS):
        for name in args.names:
            runs[name].append(round(noop_run(spark, args.sf, name), 3))
    best = {n: min(r) for n, r in runs.items()}
    print(json.dumps({
        "queries": best, "total": round(sum(best.values()), 3), "runs": runs,
        "aged_n": len(ageing[: args.aged]), "calib": [calib, _calibrate()],
        "calib_mc": [mc, _calibrate_mc()], "sf_dir": args.sf,
    }))


def _event_log_jobs(log_dir: str) -> tuple[dict, dict]:
    """(jobs, stages) parsed from the one uncompressed event log in
    ``log_dir``: per job its description, submit/end epoch ms and
    stage ids; per completed stage its name, tasks and wall seconds."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    (log,) = os.listdir(log_dir)
    with open(os.path.join(log_dir, log)) as f:
        for line in f:
            ev = json.loads(line)
            et = ev.get("Event")
            if et == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = {
                    "desc": ev.get("Properties", {}).get("spark.job.description", ""),
                    "t0": ev["Submission Time"],
                    "stages": [s["Stage ID"] for s in ev["Stage Infos"]],
                }
            elif et == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["t1"] = ev["Completion Time"]
            elif et == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                sub, com = si.get("Submission Time"), si.get("Completion Time")
                stages[si["Stage ID"]] = {
                    "name": si["Stage Name"].split(" at ")[0],
                    "tasks": si["Number of Tasks"],
                    "s": (com - sub) / 1000 if sub and com else 0.0,
                }
    return jobs, stages


def cmd_profile(args) -> None:
    log_dir = tempfile.mkdtemp(prefix="spark-events-")
    # the event log must be on when the JVM starts
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", "spark.eventLog.enabled=true",
        "--conf", f"spark.eventLog.dir=file://{log_dir}",
        "--conf", "spark.eventLog.compress=false",
        "--conf", "spark.eventLog.rolling.enabled=false",
        "pyspark-shell",
    ])
    spark = get_spark("measure-profile")
    sc = spark.sparkContext
    wall: dict[str, float] = {}
    t0: dict[str, float] = {}
    for name in args.names:
        sc.setJobDescription(f"{name}::warm")
        noop_run(spark, args.sf, name)
        sc.setJobDescription(f"{name}::timed")
        t0[name] = time.time() * 1000.0  # epoch ms, as in the event log
        wall[name] = noop_run(spark, args.sf, name)
    sc.setJobDescription(None)
    spark.stop()
    try:
        jobs, stages = _event_log_jobs(log_dir)
    finally:
        shutil.rmtree(log_dir, ignore_errors=True)

    for name in args.names:
        print(f"\n=== {name}  wall={wall[name]:.3f}s (timed run) ===")
        sel = sorted(
            (j["t0"], j.get("t1", j["t0"]), jid, j)
            for jid, j in jobs.items()
            if j["desc"] == f"{name}::timed"
        )
        for s, e, jid, j in sel:
            ran = [stages[i] for i in j["stages"] if i in stages]
            stxt = "; ".join(f"{st['name']}[{st['tasks']}t,{st['s']:.2f}s]" for st in ran)
            print(f"  job {jid}: {(e - s) / 1000:6.3f}s  "
                  f"{len(ran)}/{len(j['stages'])} stages: {stxt}")
        print(f"  sum(job walls) = {sum(e - s for s, e, _, _ in sel) / 1000:.3f}s "
              f"over {len(sel)} jobs")
        # time no job covers (planning, py4j round trips, scheduling),
        # the largest gaps named by the job that follows them
        cur, covered, gaps = t0[name], 0.0, []
        for s, e, jid, _ in sel:
            if s > cur:
                gaps.append((s - cur, jid))
            if e > cur:
                covered += e - max(s, cur)
                cur = e
        gaps.sort(reverse=True)
        print(f"  job-covered={covered / 1000:.3f}s  "
              f"driver-gaps={wall[name] - covered / 1000:.3f}s  top gaps: "
              + ", ".join(f"{g / 1000:.2f}s->job{jid}" for g, jid in gaps[:6]))


def _formatted(spark, df) -> str:
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def cmd_plans(args) -> None:
    spark = get_spark("measure-plans")
    if args.names:
        os.makedirs(args.out, exist_ok=True)
        for name in args.names:
            path = os.path.join(args.out, f"{name}_{args.suffix}.txt")
            with open(path, "w") as f:
                f.write(_formatted(spark, REGISTRY[name].fn(spark, args.sf)))
            print(f"wrote {path}")
        return
    spark.conf.set("spark.sql.maxMetadataStringLength", "200")
    out = [
        "# PLANS — formatted physical plans of representative queries",
        "",
        f"Generated by tools/measure.py plans at {os.path.basename(args.sf.rstrip('/'))}; the",
        "claims each plan illustrates are pinned mechanically in",
        "tests/test_plan_hygiene.py and tools/plan_audit.py.",
        "",
    ]
    for name, note in SHOWCASE:
        plan = _formatted(spark, REGISTRY[name].fn(spark, args.sf))
        out.append(f"## {name}\n\n*{note}*\n\n```\n{plan.strip()}\n```\n")
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(SHOWCASE)} plans)")


def main(argv: list[str] | None = None) -> None:
    sf = argparse.ArgumentParser(add_help=False)
    sf.add_argument("--sf", default=DEFAULT_SF_DIR, help="testdata dir")
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    p = sub.add_parser("time", parents=[sf], help="warm, then min of 3 interleaved rounds; one JSON line")
    p.add_argument("--aged", type=int, default=0, metavar="N",
                   help="run N batch headline entries first, untimed")
    p.add_argument("names", nargs="+", metavar="NAME")
    p.set_defaults(fn=cmd_time)
    p = sub.add_parser("profile", parents=[sf], help="per-job breakdown of one timed run")
    p.add_argument("names", nargs="+", metavar="NAME")
    p.set_defaults(fn=cmd_profile)
    p = sub.add_parser("plans", parents=[sf], help="formatted physical plans")
    p.add_argument("--out", metavar="DIR")
    p.add_argument("--suffix", metavar="S")
    p.add_argument("names", nargs="*", metavar="NAME")
    p.set_defaults(fn=cmd_plans)
    args = ap.parse_args(argv)
    unknown = [n for n in args.names if n not in REGISTRY]
    if unknown:
        ap.error(f"not in REGISTRY: {unknown}")
    if args.cmd == "plans" and len({bool(args.names), bool(args.out), bool(args.suffix)}) > 1:
        p.error("--out DIR --suffix S go together with NAME...")
    args.fn(args)


if __name__ == "__main__":
    main()
