"""Benchmark entry point.

    python3 perfbench/run.py --workload serve_iterative --seed 1 \
        --seconds 15 --trace 0

Run from the root of a checkout. One process runs one workload:

1. isolate: every artifact root, ``SPARK_LOCAL_DIRS``, the temp dir and
   the working directory point into a run-owned directory under
   ``.perfbench_runs/``, deleted at exit;
2. set up: generate the seeded inputs, start the session on
   ``local[nproc]``, run the cold pass (index builds included), check
   every result against its DuckDB oracle, and run one untimed
   warm-up pass of the core steps; ``setup_s`` ends here;
3. measure timed passes: at least ``MIN_PASSES`` (``MIN_TRACED_PASSES``
   traced), and for at least
   ``--seconds``; ``pass_s`` sums each core step's median over the
   passes, so a step slowed once by the host does not move it.
   ``setup_s`` and every step's seconds are wall time net of the
   host's CPU steal (``hostclock.unstolen``): on a shared 4-vCPU host,
   runs under 20-30% steal read 1.5-2 times longer in wall time;
4. print one JSON line: end-to-end metrics with ``--trace 0``,
   per-layer metrics with ``--trace 1`` (functions wrapped, event log
   on, coverage steps added to each pass). A failed check or op makes
   ``correct`` false and the exit code 1.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

from hostclock import steal_ticks, unstolen  # noqa: E402

S_PROCESS = steal_ticks()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "lol_data_pipeline_spark"

WORKLOADS = ("serve_iterative", "index_churn")
END_TO_END = ("setup_s", "pass_s")
MIN_PASSES = 4
MIN_TRACED_PASSES = 3  # the traced run adds coverage steps to each pass
DRIVER_MEM = "4g"
ARTIFACT_ENVS = [
    f"SPARK_GRAFT_{k}_DIR"
    for k in (
        "INDEX", "GRAPH_INDEX", "TEXT_INDEX", "MINHASH_INDEX", "CHUNK_INDEX",
        "PHASH_INDEX", "SKETCH_INDEX", "BPE_VOCAB", "LR_MODEL", "POWER_DIRS",
    )
]


def isolate(run_dir: str, traced: bool) -> None:
    """Point every on-disk side effect of the engine into ``run_dir``.
    Must run before the package or pyspark is imported: the artifact
    roots are read at import time."""
    art = os.path.join(run_dir, "artifacts")
    for env in ARTIFACT_ENVS:
        os.environ[env] = os.path.join(art, env[len("SPARK_GRAFT_"):-len("_DIR")].lower())
    tmp = os.path.join(run_dir, "tmp")
    for d in (tmp, os.path.join(run_dir, "spark-local"), os.path.join(run_dir, "events")):
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        TMPDIR=tmp,
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_GRAFT_SF_DIR=os.path.join(run_dir, "sf0.01"),
        # Python workers unpickle the package by import path
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
        ),
    )
    conf = [f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]
    args = [
        "--driver-java-options", f"'{' '.join(conf)}'",
        "--conf", "spark.ui.showConsoleProgress=false",
    ]
    if traced:
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
            "--conf", f"spark.eventLog.dir=file://{os.path.join(run_dir, 'events')}",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])
    os.chdir(run_dir)


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for it."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def keep_checkpoints_in(tmp: str) -> None:
    """Streaming checkpoints go to ``tmp`` (inside the run directory)
    instead of ``/dev/shm``, where the engine puts them and nothing
    deletes them. Rebinds the factory in every module that imported it."""
    import tempfile

    from lol_data_pipeline_spark.streaming import windows

    orig = windows._ckpt_dir

    def ckpt_dir() -> str:
        return tempfile.mkdtemp(prefix="ckpt_", dir=tmp)

    for name, mod in list(sys.modules.items()):
        if name.startswith(PKG) and mod is not None and getattr(mod, "_ckpt_dir", None) is orig:
            mod._ckpt_dir = ckpt_dir


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def per_layer_names() -> list[str]:
    """Every per-layer metric, in output order (a workload that does
    not reach a layer reports 0 for it)."""
    from tracing import JOB_COUNTED, TRACED
    from workloads import CHURN_CORE, CHURN_COVERAGE, SERVE_CORE, SERVE_COVERAGE

    names = [
        "plans.construct_s", "plans.construct_jobs",
        "spark.execute_s", "spark.execute_jobs", "spark.stages", "spark.tasks",
        "spark.shuffle_write_mb", "spark.spill_mb",
        "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
        "session.get_spark_s", "session.jvm_peak_rss_mb",
        "index.reused", "index.build_s", "index.size_mb",
        "lsm.compactions", "lsm.epoch_depth", "lsm.bytes_written_mb",
        "write_p50_s", "write_mean_s", "read_p50_s", "write_mb_per_batch",
        "trace.pass_s",
    ]
    for mod, fn in TRACED:
        names += [f"{mod}.{fn}_s", f"{mod}.{fn}_calls"]
    names += [f"{mod}.{fn}_jobs" for mod, fn in JOB_COUNTED]
    for op in SERVE_CORE + SERVE_COVERAGE + CHURN_CORE + CHURN_COVERAGE:
        names += [f"op.{op}.construct_s", f"op.{op}.construct_jobs", f"op.{op}.execute_s"]
    return names


def layer_row(p, job_stats) -> dict[str, float]:
    """The per-layer figures of one pass."""
    from tracing import BUILDERS, ENSURERS

    m = dict.fromkeys(per_layer_names() + ["index.built"], 0.0)
    for op, rec in p.ops.items():
        for k in ("construct_s", "construct_jobs", "execute_s"):
            key = f"op.{op}.{k}"
            if key in m:
                m[key] = rec.get(k, 0.0)
        m["plans.construct_s"] += rec.get("construct_s", 0.0)
        m["plans.construct_jobs"] += rec.get("construct_jobs", 0.0)
        m["spark.execute_s"] += rec.get("execute_s", 0.0)
        m["spark.execute_jobs"] += rec.get("execute_jobs", 0.0)
        for ph in ("analysis", "optimization", "planning"):
            m[f"catalyst.{ph}_s"] += rec.get(f"catalyst_{ph}_s", 0.0)
    for j0, j1 in p.job_ranges:
        for jid in range(j0, j1):
            js = job_stats.get(jid)
            if js:
                m["spark.stages"] += js["stages"]
                m["spark.tasks"] += js["tasks"]
                m["spark.shuffle_write_mb"] += js["shuffle_write"] / 1e6
                m["spark.spill_mb"] += js["spill"] / 1e6
    for key, (secs, calls, jobs, written) in p.fns.items():
        m[f"{key}_s"] = secs
        m[f"{key}_calls"] = calls
        if f"{key}_jobs" in m:
            m[f"{key}_jobs"] = jobs
        fn = key.rsplit(".", 1)[1]
        if fn in BUILDERS:
            m["index.built"] += calls
        if fn in ENSURERS:
            m["index.reused"] += calls
        m["lsm.bytes_written_mb"] += written / 1e6
    m["index.reused"] -= m["index.built"]
    m["lsm.compactions"] = p.compactions
    m["lsm.epoch_depth"] = p.epoch_depth
    if p.writes:
        m["write_p50_s"] = statistics.median(p.writes)
        m["write_mean_s"] = statistics.fmean(p.writes)
        m["write_mb_per_batch"] = m["lsm.bytes_written_mb"] / len(p.writes)
    if p.reads:
        m["read_p50_s"] = statistics.median(p.reads)
    return m


def layer_metrics(cold, passes, core, job_stats, extra) -> tuple[dict, list[dict]]:
    """Median over timed passes of each per-pass layer figure, and the
    per-pass rows (which also carry ``index.built``, 0 in every timed
    pass). Figures of the whole timed phase instead: the write and
    read statistics over all its writes and reads (``write_mean_s``
    carries the compactions), the compaction count and the deepest
    epoch log; ``index.build_s`` is the set-up's build time,
    ``trace.pass_s`` the traced run's ``pass_s``."""
    from tracing import BUILDERS
    from workloads import pass_seconds

    rows = [layer_row(p, job_stats) for p in passes]
    out = {k: statistics.median(r[k] for r in rows) for k in per_layer_names()}
    writes = [w for p in passes for w in p.writes]
    reads = [r for p in passes for r in p.reads]
    if writes:
        out["write_p50_s"] = statistics.median(writes)
        out["write_mean_s"] = statistics.fmean(writes)
        out["write_mb_per_batch"] = sum(r["lsm.bytes_written_mb"] for r in rows) / len(writes)
    if reads:
        out["read_p50_s"] = statistics.median(reads)
    out["lsm.compactions"] = sum(p.compactions for p in passes)
    out["lsm.epoch_depth"] = max(p.epoch_depth for p in passes)
    out["index.build_s"] = sum(
        rec[0] for key, rec in cold.fns.items() if key.rsplit(".", 1)[1] in BUILDERS
    )
    out["trace.pass_s"] = pass_seconds(passes, core)
    out.update(extra)
    return out, rows


def unit(name: str) -> str:
    words = name.rsplit(".", 1)[-1].split("_")
    if words[-1] == "s":
        return "s"
    if "mb" in words:
        return "MB"
    return "count"


def run(args, run_dir: str) -> dict:
    """Set up, measure and return the result object."""
    import datagen

    sf_dir = os.environ["SPARK_GRAFT_SF_DIR"]
    marks = {"start": time.perf_counter() - T_PROCESS}
    datagen.generate(sf_dir, args.seed)
    marks["datagen"] = time.perf_counter() - T_PROCESS

    sys.path.insert(0, ROOT)
    from lol_data_pipeline_spark import session

    t0 = time.perf_counter()
    spark = session.get_spark("perfbench")
    get_spark_s = time.perf_counter() - t0
    marks["session"] = time.perf_counter() - T_PROCESS
    try:
        import lol_data_pipeline_spark.plans  # noqa: F401  (imports every module)
        import workloads

        keep_checkpoints_in(os.path.join(run_dir, "tmp"))
        runner = workloads.Runner(spark, sf_dir, os.path.join(run_dir, "artifacts"))
        if args.trace:
            from tracing import Tracer

            runner.tracer = Tracer(runner.next_job_id)
            runner.tracer.install()
        w = workloads.WORKLOADS[args.workload](
            runner, args.seed, bool(args.trace), os.path.join(run_dir, "work")
        )
        marks["workload"] = time.perf_counter() - T_PROCESS
        cold, passes = workloads.measure(
            w, runner, args.seed, args.seconds,
            MIN_TRACED_PASSES if args.trace else MIN_PASSES,
        )
        marks["setup"] = cold.end - T_PROCESS
        index_mb = runner.index_mb()
        rss_mb = jvm_peak_rss_mb(spark)
    finally:
        stop_spark(spark)
    if args.trace:
        from tracing import parse_event_log

        job_stats = parse_event_log(os.path.join(run_dir, "events"))
        metrics, rows = layer_metrics(
            cold, passes, w.core, job_stats,
            {
                "session.get_spark_s": get_spark_s,
                "session.jvm_peak_rss_mb": rss_mb,
                "index.size_mb": index_mb,
            },
        )
        if args.dump:
            with open(args.dump, "w") as f:
                json.dump({"cold": layer_row(cold, job_stats), "passes": rows}, f)
    else:
        metrics = {
            "setup_s": unstolen(cold.end - T_PROCESS, S_PROCESS),
            "pass_s": workloads.pass_seconds(passes, w.core),
        }
    return {
        "correct": not runner.failed,
        "attempted": runner.attempted,
        "failed": len(runner.failed),
        "failures": runner.failed,
        "pass_walls": [round(p.wall, 3) for p in passes],
        "pass_steal": [round(p.steal, 2) for p in passes],
        "marks": {k: round(v, 2) for k, v in marks.items()},
        "steps": {
            k: [round(p.steps[k], 3) for p in passes] for k in w.core
        },
        "metrics": {k: {"value": v, "unit": unit(k)} for k, v in metrics.items()},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--dump", help="with --trace 1: write per-pass layer rows here")
    args = ap.parse_args()
    # a terminated run still stops its JVM and deletes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    if args.dump:
        args.dump = os.path.abspath(args.dump)  # the run chdirs away
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"perfbench: no {PKG}/ next to {HERE}; run from a full checkout",
              file=sys.stderr)
        return 2
    run_dir = os.path.join(
        ROOT, ".perfbench_runs", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    isolate(run_dir, bool(args.trace))
    try:
        result = run(args, run_dir)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
        with contextlib.suppress(OSError):  # another run may still use it
            os.rmdir(os.path.dirname(run_dir))
    print(f"perfbench: set-up marks {result.pop('marks')}", file=sys.stderr)
    print(f"perfbench: pass walls {result.pop('pass_walls')}", file=sys.stderr)
    print(f"perfbench: pass steal {result.pop('pass_steal')}", file=sys.stderr)
    print(f"perfbench: step seconds {result.pop('steps')}", file=sys.stderr)
    failures = result.pop("failures")
    for f in failures:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
