"""Per-layer tracing for the benchmark's traced run.

Everything here observes the engine from outside; no engine code
changes:

- ``Tracer.install`` wraps public package functions and records, per
  function, inclusive wall time, call count and the Spark jobs started
  during the call (the driver's job-id counter before and after).
  A wrapper is rebound in every loaded package module that holds the
  original object, so names bound by ``from x import f`` are traced
  too (``minhash_index`` binds ``lsm_upsert`` that way).
- ``catalyst_phases`` reads ``queryExecution().tracker().phases()``
  of an op's final plan.
- ``parse_event_log`` attributes stages, tasks, shuffle-write and
  spill bytes to job-id ranges from the Spark event log.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time
from collections import defaultdict

PKG = "lol_data_pipeline_spark"

# (module under the package, function) pairs wrapped in the traced run
TRACED = [
    ("io", "load_table"),
    ("io", "table_schema"),
    ("io", "write_overwrite"),
    ("io", "write_upsert_partitions"),
    ("io", "compact_parquet"),
    ("sources.riot", "match_id_scan"),
    ("sources.riot", "fetch_match_details"),
    ("sinks", "write_truncate_and_load"),
    ("streaming.windows", "run_to_completion"),
    ("streaming.windows", "replay_multibatch"),
    ("caching", "truncate_lineage"),
    ("caching", "tracked_persist"),
    ("operators.graph", "connected_components"),
    ("operators.clustering", "power_iteration"),
    ("operators.vector_index", "served_ivfpq_topk"),
    ("operators.vector_index", "ensure_ivfpq_index"),
    ("operators.vector_index", "build_ivfpq_index"),
    ("operators.graph_index", "served_beam_topk"),
    ("operators.graph_index", "ensure_knn_graph_index"),
    ("operators.graph_index", "build_knn_graph_index"),
    ("operators.text_index", "served_bm25_topk"),
    ("operators.text_index", "ensure_bm25_index"),
    ("operators.text_index", "build_bm25_index"),
    ("operators.minhash_index", "served_minhash_probe"),
    ("operators.minhash_index", "ensure_minhash_index"),
    ("operators.minhash_index", "build_minhash_index"),
    ("operators.minhash_index", "minhash_index_upsert"),
    ("operators.minhash_index", "minhash_index_delete"),
    ("operators.lsm", "lsm_upsert"),
    ("operators.lsm", "lsm_delete"),
    ("operators.lsm", "lsm_maybe_compact"),
    ("operators.lsm", "lsm_compact"),
]

# wrapped functions whose Spark job count is also reported
JOB_COUNTED = [
    (m, f) for m, f in TRACED
    if m in ("operators.graph", "operators.clustering") or f.startswith("served_")
]

BUILDERS = {f for _, f in TRACED if f.startswith("build_")}
ENSURERS = {f for _, f in TRACED if f.startswith("ensure_")}


def _bytes_written(fn_name: str, args, out) -> int:
    """Bytes an LSM write put on disk: the delta/tombstone sizes
    ``lsm_upsert``/``lsm_delete`` return, or the new base a
    successful ``lsm_compact`` wrote."""
    if isinstance(out, dict):
        return sum(v for k, v in out.items() if k.endswith("_bytes"))
    if fn_name == "lsm_compact" and out:
        from lol_data_pipeline_spark.operators.lsm import dir_bytes

        return dir_bytes(args[1])
    return 0


class Tracer:
    """Wraps package functions; ``take()`` returns and clears the
    per-function ``{key: [seconds, calls, jobs, lsm_bytes]}``
    accumulated since the last call. Keys are ``<module>.<fn>``."""

    def __init__(self, next_job_id):
        self._next_job_id = next_job_id
        self._acc: dict[str, list] = defaultdict(lambda: [0.0, 0, 0, 0])

    def _wrap(self, key: str, fn):
        acc, next_job_id = self._acc, self._next_job_id
        lsm = key.startswith("operators.lsm.")

        def traced(*args, **kwargs):
            j0, t0 = next_job_id(), time.perf_counter()
            out = None
            try:
                out = fn(*args, **kwargs)
                return out
            finally:
                rec = acc[key]
                rec[0] += time.perf_counter() - t0
                rec[1] += 1
                rec[2] += next_job_id() - j0
                if lsm:
                    rec[3] += _bytes_written(fn.__name__, args, out)

        traced.__wrapped__ = fn
        return traced

    def install(self) -> None:
        import importlib

        for mod_name, fn_name in TRACED:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            orig = getattr(mod, fn_name)
            wrapped = self._wrap(f"{mod_name}.{fn_name}", orig)
            for name, m in list(sys.modules.items()):
                if not name.startswith(PKG) or m is None:
                    continue
                for attr, val in list(vars(m).items()):
                    if val is orig:
                        setattr(m, attr, wrapped)

    def take(self) -> dict[str, list]:
        out = {k: list(v) for k, v in self._acc.items()}
        self._acc.clear()
        return out


def catalyst_phases(df) -> dict[str, float]:
    """Seconds spent in analysis/optimization/planning on ``df``'s
    final plan (forces planning of that plan)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    out = {}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().durationMs() / 1000.0
    return out


def parse_event_log(log_dir: str) -> dict[int, dict]:
    """``{job_id: {"stages", "tasks", "shuffle_write", "spill"}}`` from
    the single application event log in ``log_dir`` (bytes are raw)."""
    paths = glob.glob(os.path.join(log_dir, "*"))
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {paths}")
    job_stages: dict[int, list[int]] = {}
    stage_tasks: dict[int, int] = defaultdict(int)
    stage_shuffle: dict[int, int] = defaultdict(int)
    stage_spill: dict[int, int] = defaultdict(int)
    with open(paths[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                job_stages[ev["Job ID"]] = ev["Stage IDs"]
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                stage_tasks[sid] += 1
                m = ev.get("Task Metrics") or {}
                stage_shuffle[sid] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                stage_spill[sid] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
    # a stage runs in the first job that lists it; later jobs skip it
    owner: dict[int, int] = {}
    for jid in sorted(job_stages):
        for s in job_stages[jid]:
            owner.setdefault(s, jid)
    out = {}
    for jid, sids in job_stages.items():
        ran = [s for s in sids if owner[s] == jid and s in stage_tasks]
        out[jid] = {
            "stages": len(ran),
            "tasks": sum(stage_tasks[s] for s in ran),
            "shuffle_write": sum(stage_shuffle[s] for s in ran),
            "spill": sum(stage_spill[s] for s in ran),
        }
    return out
