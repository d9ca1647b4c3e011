"""Full-registry oracle parity sweep.

The driver's CORRECTNESS gate samples ~50 of the registry's entries;
round 3 proved the unsampled remainder can rot silently (5 streaming
queries returned wrong answers for a full round). This sweep runs
EVERY oracled entry against DuckDB at sf0.01 — the SAME scale factor
as the driver's gate (the round-3 bug only manifested clearly at
sf0.01 row counts; sweeping smaller than the gate leaves that gap) —
so any regression fails CI, not just the sampled subset.

Marked slow; deselect with ``-m 'not slow'`` for a quick iteration
loop. One parametrized test per entry so a failure names the exact
query and -x stops at the first.
"""

from __future__ import annotations

import os

import pytest

from lol_data_pipeline_spark.plans import REGISTRY
from tools.check_parity import compare, materialize_ctes, oracle_connection

ORACLED = sorted(name for name, spec in REGISTRY.items() if spec.sql)

# the driver's gate runs at sf0.01; fall back for environments that
# only ship the small fixture
SF_GATE = (
    "/root/testdata/sf0.01"
    if os.path.isdir("/root/testdata/sf0.01")
    else "/root/testdata/sf0.001"
)


@pytest.fixture(scope="module")
def duck():
    con = oracle_connection(SF_GATE)
    yield con
    con.close()


@pytest.mark.slow
@pytest.mark.parametrize("name", ORACLED)
def test_oracle_parity(name, spark, duck):
    spec = REGISTRY[name]
    sdf = spec.fn(spark, SF_GATE)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]
    res = duck.execute(spec.sql)
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()
    issues = compare(name, spark_rows, duck_rows, spark_cols, duck_cols)
    assert not issues, f"{name}: " + " | ".join(issues)


@pytest.mark.parametrize(
    "name",
    [
        "emb_knn_graph",
        "ann_graph_beam_topk",
        "ann_ivfpq_kmeans_topk",
        "ann_ivfpq_served_topk",
    ],
)
def test_graph_oracle_chains_fast(name, spark, sf_dir):
    """Fast-gate parity at sf0.001 for the entries whose oracles are
    the shared chains alone: the kNN edge CTEs
    (extensions.knn_edge_ctes) and the beam rounds
    (round10.beam_ctes), which every other graph-family oracle builds
    on, and the IVF+PQ codebook and serve chain (round9._serve_head),
    which every IVF+PQ oracle builds on — checked against the
    in-query flagship and the served index. The full sweep above
    covers the rest, marked slow."""
    con = oracle_connection(sf_dir)
    spec = REGISTRY[name]
    sdf = spec.fn(spark, sf_dir)
    res = con.execute(materialize_ctes(spec.sql))
    issues = compare(
        name,
        [tuple(r) for r in sdf.collect()],
        res.fetchall(),
        sdf.columns,
        [d[0] for d in res.description],
    )
    con.close()
    assert not issues, f"{name}: " + " | ".join(issues)


def test_every_query_has_oracle_or_is_documented():
    """Rows-only entries (no SQL oracle) must stay a short, known
    list — a new entry without an oracle is a coverage regression."""
    no_oracle = sorted(n for n, s in REGISTRY.items() if not s.sql)
    assert no_oracle == [], no_oracle
