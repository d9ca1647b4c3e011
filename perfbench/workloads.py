"""The benchmark's workloads.

Both run on one Spark session over the generated tables. A workload
is a list of *steps*; a *pass* runs every step once. Each step's
seconds, net of the host's CPU steal (``hostclock``), are recorded per
pass, and ``pass_s`` is the sum over the workload's core steps of that
step's median: the time of a typical pass, which a single slow sample
does not move.

- ``serve_iterative``: the driver-bound iterative kernel
  ``corpus_dedup_keep_first`` (41 eager jobs of connected
  components per call);
- ``index_churn``: a seeded upsert batch and a seeded delete batch
  into a private minhash index, then the served probe. The LSM table
  keeps the engine's default quota (8 epochs), so it compacts every
  fourth pass, and the run lasts until it has compacted at least
  once.

The traced run adds *coverage* steps to each pass, so that every
layer is measured on some workload. They are not part of
``pass_s``:

- ``serve_iterative``: ``emb_power_iteration`` (20 eager jobs) and
  ``retrieval_rrf3_served``, which probes the persisted BM25, IVF-PQ
  and kNN-graph indexes, in a seeded order with keep_first;
- ``index_churn``: the reference ETL path (a riot source run into a
  parquet sink, a sqlite truncate-and-load of it, TPC-H Q1, and a
  replayed multi-micro-batch stream).

A plan step is timed in two phases: *construct* (calling the plan
function, which includes every eager driver-side job) and *execute*
(running the returned plan into the ``noop`` sink). An eager step
(an index write, a sink) is all construct.
"""

from __future__ import annotations

import json
import os
import random
import re
import sqlite3
import statistics
import time
from collections import defaultdict
from contextlib import closing

from pyspark.sql import functions as F

from hostclock import steal_share, steal_ticks, unstolen

SERVE_CORE = ["corpus_dedup_keep_first"]
SERVE_COVERAGE = ["emb_power_iteration", "retrieval_rrf3_served"]
CHURN_CORE = ["minhash_upsert", "minhash_delete", "minhash_probe"]
CHURN_COVERAGE = ["riot_ingest", "sqlite_load", "rel_q1_pricing", "stream_tumbling_multibatch"]
CHURN_BATCH = 20
MAX_PASSES = 20

# the riot source run: the same scan as the ref_ingest_pipeline entry,
# whose oracle checks the sink's rows
RIOT_PUUID, RIOT_QUEUES, RIOT_MATCHES = "puuid_1", ["draft", "blind"], 200


class Pass:
    """Timings and counters of one pass."""

    def __init__(self):
        self.ops: dict[str, dict] = defaultdict(lambda: defaultdict(float))
        self.steps: dict[str, float] = defaultdict(float)
        self.job_ranges: list[tuple[int, int]] = []
        self.writes: list[float] = []
        self.reads: list[float] = []
        self.fns: dict[str, list] = {}  # tracer figures, traced run only
        self.compactions = 0
        self.epoch_depth = 0
        self.steal = 0.0  # host CPU steal share, for the stderr diagnostics
        self.wall = 0.0
        self.end = 0.0


def pass_seconds(passes: list[Pass], steps: list[str]) -> float:
    """Sum over ``steps`` of each step's median seconds per pass."""
    return sum(statistics.median(p.steps[s] for p in passes) for s in steps)


class Runner:
    """Runs steps against one session and table dir; ``tracer`` is
    set only in the traced run."""

    def __init__(self, spark, sf_dir: str, artifact_root: str, tracer=None):
        self.spark = spark
        self.sf_dir = sf_dir
        self.artifact_root = artifact_root
        self.tracer = tracer
        self._ds = spark.sparkContext._jsc.sc().dagScheduler()
        self.attempted = 0
        self.failed: list[str] = []

    def next_job_id(self) -> int:
        return int(self._ds.nextJobId())

    def index_mb(self) -> float:
        from lol_data_pipeline_spark.operators.lsm import dir_bytes

        return dir_bytes(self.artifact_root) / 1e6

    def fail(self, what: str) -> None:
        self.failed.append(what)

    def _phase(self, p: Pass, op: str, phase: str, fn):
        j0, t0 = self.next_job_id(), time.perf_counter()
        out = fn()
        dt = time.perf_counter() - t0
        j1 = self.next_job_id()
        p.ops[op][f"{phase}_s"] += dt
        p.ops[op][f"{phase}_jobs"] += j1 - j0
        p.job_ranges.append((j0, j1))
        return out, dt

    def run_plan(self, p: Pass, op: str, build, check=None) -> float:
        """Construct ``build()``'s DataFrame and execute it. With
        ``check`` the result is collected and handed to it instead
        of the noop sink (cold pass). Returns the step's seconds.

        The step runs in a ``cache_scope``, the library discipline
        for callers outside the registry: Spark's cache is keyed by
        logical plan, so a probe persisted before a compaction would
        otherwise be served again once the index path reads the
        same way after it."""
        from lol_data_pipeline_spark.caching import cache_scope

        self.attempted += 1
        t0 = steal_ticks()
        with cache_scope():
            df, c = self._phase(p, op, "construct", build)
            if self.tracer is not None and check is None:
                from tracing import catalyst_phases

                for k, v in catalyst_phases(df).items():
                    p.ops[op][f"catalyst_{k}_s"] += v
            if check is not None:
                rows, x = self._phase(
                    p, op, "execute", lambda: [tuple(r) for r in df.collect()]
                )
                problems = check(df.columns, rows)
                if problems:
                    self.fail(f"{op}: {problems}")
            else:
                _, x = self._phase(
                    p, op, "execute",
                    lambda: df.write.format("noop").mode("overwrite").save(),
                )
        p.steps[op] += unstolen(c + x, t0)
        return c + x

    def run_entry(self, p: Pass, op: str, oracle: "Oracle | None" = None) -> float:
        """Run the registry entry ``op``; with ``oracle``, check it."""
        from lol_data_pipeline_spark.plans import REGISTRY

        spec, spark, sf = REGISTRY[op], self.spark, self.sf_dir
        check = oracle.check(op, spec.sql) if oracle is not None else None
        return self.run_plan(p, op, lambda: spec.fn(spark, sf), check)

    def run_eager(self, p: Pass, op: str, fn) -> float:
        """Time ``fn()``, a step that does its own work (all construct)."""
        from lol_data_pipeline_spark.caching import cache_scope

        self.attempted += 1
        t0 = steal_ticks()
        with cache_scope():
            _, dt = self._phase(p, op, "construct", fn)
        p.steps[op] += unstolen(dt, t0)
        return dt

    def close(self, p: Pass, t0: float) -> None:
        p.end = time.perf_counter()
        p.wall = p.end - t0
        if self.tracer is not None:
            p.fns = self.tracer.take()


class Oracle:
    """DuckDB views over a table directory. ``check(name, sql)``
    returns a checker comparing a Spark result to the SQL's rows with
    the repo's parity comparator.

    Every CTE is evaluated ``MATERIALIZED``: DuckDB otherwise inlines
    a CTE at each reference, and keep_first's oracle re-runs its
    all-pairs Jaccard join per label round (27 s against 0.3 s
    materialized, same rows)."""

    _CTE = re.compile(r"(\bWITH\s+|,\s*)(\w+)\s+AS\s+\(", re.IGNORECASE)

    def __init__(self, sf_dir: str):
        import duckdb

        from datagen import TABLES

        self.con = duckdb.connect()
        for t in TABLES:
            self.view(t, f"SELECT * FROM '{sf_dir}/{t}.parquet'")

    def view(self, name: str, sql: str) -> None:
        self.con.execute(f"CREATE OR REPLACE VIEW {name} AS {sql}")

    def rows(self, sql: str):
        res = self.con.execute(self._CTE.sub(r"\1\2 AS MATERIALIZED (", sql))
        return [d[0] for d in res.description], res.fetchall()

    def check(self, name: str, sql: str):
        from tools.check_parity import compare

        def run(cols, rows):
            duck_cols, duck_rows = self.rows(sql)
            issues = compare(name, rows, duck_rows, cols, duck_cols)
            # FLOAT-DRIFT: values agree within 1e-9 relative
            return [i for i in issues if not i.startswith("FLOAT-DRIFT")]

        return run


def measure(w, runner: Runner, seed: int, seconds: float, min_passes: int):
    """Set-up (the checked cold pass, then ``w.warmup`` untimed passes
    of the core steps), then timed passes: at least ``min_passes``, for
    at least ``seconds``, and until ``w.enough()``, but at most
    ``MAX_PASSES``. Returns (cold pass, [timed passes]); the cold pass
    ends where set-up ends."""
    cold, t0 = Pass(), time.perf_counter()
    w.cold(cold)
    rng = random.Random(seed)
    for _ in range(w.warmup):
        w.run_pass(Pass(), rng, warm=True)
    runner.close(cold, t0)
    passes: list[Pass] = []
    t_end = time.perf_counter() + seconds
    while len(passes) < min_passes or time.perf_counter() < t_end or not w.enough(passes):
        if len(passes) == MAX_PASSES:  # the churn's write batches run out
            if not w.enough(passes):
                runner.fail(f"no end after {MAX_PASSES} passes")
            break
        # flush the earlier writes' dirty pages first: their write-back
        # would otherwise land in this pass, and on a virtual disk it
        # stalls the CPUs too
        os.sync()
        p, t0 = Pass(), time.perf_counter()
        s0 = steal_ticks()
        w.run_pass(p, rng)
        runner.close(p, t0)
        p.steal = steal_share(s0)
        passes.append(p)
        w.after_pass(p)
    w.finish()
    return cold, passes


# ---------------------------------------------------------------------------
# serve_iterative
# ---------------------------------------------------------------------------


class ServeIterative:
    """Registry entries, each checked against its oracle on the cold
    pass and run in a seeded order in every timed pass."""

    core = SERVE_CORE
    # keep_first's pass time falls by a third over its first few runs
    # while the JVM warms up
    warmup = 1

    def __init__(self, runner: Runner, seed: int, traced: bool, work_dir: str):
        self.r = runner
        self.steps = SERVE_CORE + (SERVE_COVERAGE if traced else [])
        self.oracle = Oracle(runner.sf_dir)

    def cold(self, p: Pass) -> None:
        for op in self.steps:
            self.r.run_entry(p, op, self.oracle)

    def run_pass(self, p: Pass, rng: random.Random, warm: bool = False) -> None:
        order = (self.core if warm else self.steps)[:]
        rng.shuffle(order)
        for op in order:
            self.r.run_entry(p, op)

    def enough(self, passes) -> bool:
        return True

    def after_pass(self, p: Pass) -> None:
        pass

    def finish(self) -> None:
        pass


# ---------------------------------------------------------------------------
# index_churn
# ---------------------------------------------------------------------------


class IndexChurn:
    """The private minhash index and its seeded write stream, plus
    (traced run) the reference ETL path."""

    core = CHURN_CORE
    # the first writes and probes after the build are a third slower
    warmup = 2

    def __init__(self, runner: Runner, seed: int, traced: bool, work_dir: str):
        import pyarrow.parquet as pq

        from datagen import churn_batches

        from lol_data_pipeline_spark.operators import minhash_index
        from lol_data_pipeline_spark.plans import REGISTRY, round11
        from lol_data_pipeline_spark.plans.queries import T

        self.r = runner
        self.mh = minhash_index
        self.p11 = round11
        self.traced = traced
        self.work_dir = work_dir
        spark, sf = runner.spark, runner.sf_dir
        self.docs = T(spark, sf, "documents")
        self.probe_set = self.docs.filter(F.pmod(F.col("doc_id"), F.lit(5)) == 0)
        self.oracle = Oracle(sf)
        self.probe_sql = REGISTRY["dedup_minhash_served"].sql
        self.batches = []
        batch_dir = os.path.join(work_dir, "batches")
        os.makedirs(batch_dir, exist_ok=True)
        for i, (kind, table) in enumerate(
            churn_batches(sf, seed, 2 * (self.warmup + MAX_PASSES + 1), CHURN_BATCH)
        ):
            path = os.path.join(batch_dir, f"b{i:03d}.parquet")
            pq.write_table(table, path)
            self.batches.append((kind, path))
        self.applied = 0
        self.upserted: list[str] = []
        self.deleted: list[str] = []
        self.path = self.meta = None
        self.checked_compacted = False

    # -- minhash churn ----------------------------------------------------

    def table(self) -> str:
        return self.mh.buckets_path(self.path)

    def ensure(self):
        r11 = self.p11
        self.path, self.meta = self.mh.ensure_minhash_index(
            self.r.spark, self.r.sf_dir, variant="churn", k=r11._MH_K,
            bands=r11._MH_BANDS, n=r11._MH_N, index_where=r11._MH_IDX_WHERE,
        )

    def probe(self):
        docs = self.docs.select("doc_id", "text")
        if self.upserted:
            docs = docs.unionByName(
                self.r.spark.read.schema("doc_id long, text string").parquet(*self.upserted)
            )
        return self.mh.served_minhash_probe(
            self.r.spark, self.path, self.meta, self.probe_set,
            verify_docs=docs, threshold=self.p11._MH_TAU,
        )

    def write_next(self, p: Pass) -> None:
        """Write the next seeded batch into the index."""
        from lol_data_pipeline_spark.operators.lsm import lsm_epochs

        kind, batch_path = self.batches[self.applied]
        self.applied += 1
        (self.upserted if kind == "upsert" else self.deleted).append(batch_path)
        schema = "doc_id long, text string" if kind == "upsert" else "doc_id long"
        batch = self.r.spark.read.schema(schema).parquet(batch_path)
        write = getattr(self.mh, f"minhash_index_{kind}")

        def do():
            self.meta = write(self.r.spark, self.path, self.meta, batch)

        p.writes.append(self.r.run_eager(p, f"minhash_{kind}", do))
        depth = len(lsm_epochs(self.table()))
        p.epoch_depth = max(p.epoch_depth, depth)
        p.compactions += depth == 0  # a write adds an epoch; a compaction folds all

    def check_probe(self, where: str) -> None:
        """Check the probe against the oracle over the current
        document set (untimed)."""
        self.oracle.view("documents", self.current_docs_sql())
        check = self.oracle.check("minhash_probe", self.probe_sql)
        self.r.run_plan(Pass(), "minhash_probe", self.probe, _labelled(check, where))

    def current_docs_sql(self) -> str:
        parts = [f"SELECT doc_id, text FROM '{self.r.sf_dir}/documents.parquet'"]
        parts += [f"SELECT doc_id, text FROM '{u}'" for u in self.upserted]
        sql = " UNION ALL ".join(parts)
        if self.deleted:
            doomed = " UNION ALL ".join(f"SELECT doc_id FROM '{d}'" for d in self.deleted)
            sql = f"SELECT * FROM ({sql}) WHERE doc_id NOT IN ({doomed})"
        return sql

    # -- the reference ETL path (traced run) ------------------------------

    def riot_ingest(self) -> None:
        from lol_data_pipeline_spark.sources import riot

        riot.run_pipeline(
            self.r.spark, RIOT_PUUID, self.riot_out(), RIOT_QUEUES, num_matches=RIOT_MATCHES
        )

    def riot_out(self) -> str:
        return os.path.join(self.work_dir, "riot_matches")

    def sqlite_db(self) -> str:
        return os.path.join(self.work_dir, "matches.sqlite")

    def sqlite_load(self) -> None:
        from lol_data_pipeline_spark import sinks

        sinks.write_truncate_and_load(
            self.r.spark.read.parquet(self.riot_out()),
            sinks.sqlite_connect(self.sqlite_db()), "matches",
        )

    def check_etl(self, full: bool) -> None:
        """The sink's rows read back from sqlite equal the parquet
        sink's rows; with ``full`` the parquet rows also equal the
        ``ref_ingest_pipeline`` oracle."""
        from lol_data_pipeline_spark.plans import REGISTRY

        df = self.r.spark.read.parquet(self.riot_out())
        with closing(sqlite3.connect(self.sqlite_db())) as con:
            docs = sorted(d for (d,) in con.execute("SELECT doc FROM matches"))
        if not full:
            if len(docs) != df.count():
                self.r.fail(f"sqlite_load: {len(docs)} rows read back, {df.count()} written")
            return
        rows = df.collect()
        want = sorted(
            json.dumps(r.asDict(recursive=True), default=str, sort_keys=True) for r in rows
        )
        if docs != want:
            self.r.fail(f"sqlite_load: {len(docs)} rows read back differ from the {len(want)} written")
        spec = REGISTRY["ref_ingest_pipeline"]
        problems = self.oracle.check("riot_ingest", spec.sql)(df.columns, [tuple(r) for r in rows])
        if problems:
            self.r.fail(f"riot_ingest: {problems}")

    def etl(self, p: Pass, rng: random.Random | None) -> None:
        """One run of the ETL path; checked when ``rng`` is None (cold)."""
        ops = ["ingest", "rel_q1_pricing", "stream_tumbling_multibatch"]
        if rng is not None:
            rng.shuffle(ops)
        for op in ops:
            if op == "ingest":
                self.r.run_eager(p, "riot_ingest", self.riot_ingest)
                self.r.run_eager(p, "sqlite_load", self.sqlite_load)
                self.check_etl(full=rng is None)
            else:
                self.r.run_entry(p, op, self.oracle if rng is None else None)

    # -- the workload -----------------------------------------------------

    def cold(self, p: Pass) -> None:
        self.r.run_eager(p, "build", self.ensure)
        self.check_probe("cold")
        if self.traced:
            self.etl(p, None)

    def run_pass(self, p: Pass, rng: random.Random, warm: bool = False) -> None:
        if warm:
            self.churn(p)
        elif self.traced and rng.random() < 0.5:
            self.etl(p, rng)
            self.churn(p)
        else:
            self.churn(p)
            if self.traced:
                self.etl(p, rng)

    def churn(self, p: Pass) -> None:
        self.write_next(p)  # upsert
        self.write_next(p)  # delete
        p.reads.append(self.r.run_plan(p, "minhash_probe", self.probe))

    def enough(self, passes) -> bool:
        return sum(p.compactions for p in passes) >= 1

    def after_pass(self, p: Pass) -> None:
        """Check the probe (untimed) after the first compaction."""
        if p.compactions and not self.checked_compacted:
            self.checked_compacted = True
            self.check_probe("after a compaction")
            if self.r.tracer is not None:
                self.r.tracer.take()  # keep the check out of the next pass

    def finish(self) -> None:
        """Check the probe on the merge-on-read view: base + delta +
        tombstones, one more write applied if the table has just
        compacted."""
        from lol_data_pipeline_spark.operators.lsm import lsm_epochs

        if not lsm_epochs(self.table()):
            self.write_next(Pass())
        self.check_probe(f"merge-on-read, {len(lsm_epochs(self.table()))} epochs")


def _labelled(check, where: str):
    def run(cols, rows):
        return [f"{where}: {i}" for i in check(cols, rows)]

    return run


WORKLOADS = {"serve_iterative": ServeIterative, "index_churn": IndexChurn}
