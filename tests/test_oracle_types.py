"""Oracle output-type audit (driver-faithfulness gate).

The driver's correctness comparator fetches DuckDB results through
pandas, where HUGEINT becomes float64, TIMESTAMP WITH TIME ZONE keeps
tzinfo (vs Spark's naive timestamp), and DECIMAL diverges from Spark's
double — so an oracle whose OUTPUT schema contains any of these types
hash-mismatches even when every value agrees. Round 6 lost four
CORRECTNESS rows to exactly this class (to_timestamp() TIMESTAMPTZ and
uncast sum() HUGEINT); this test pins the fix: DESCRIBE every oracle
and fail on any drift-prone output column.

No Spark session needed — DuckDB DESCRIBE alone determines the schema.
"""

from __future__ import annotations

import duckdb
import pytest

from lol_data_pipeline_spark.io import TABLES, table_path
from lol_data_pipeline_spark.plans import REGISTRY
from tools.check_parity import audit_oracle_types

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{table_path(SF, t)}'")
    return c


def test_no_drift_prone_oracle_output_types(con):
    flagged = {}
    for name, spec in REGISTRY.items():
        if spec.sql is None:
            continue
        bad = audit_oracle_types(con, spec.sql)
        if bad:
            flagged[name] = bad
    assert not flagged, (
        "Oracles with HUGEINT / TIMESTAMPTZ / DECIMAL / nested output "
        f"columns (driver hash-mismatch or canon-crash risk): {flagged}"
    )


@pytest.mark.slow  # full-registry sweep: CI-class, excluded from the
# driver-budget fast gate (pytest.ini addopts); round close runs it via
# -m "slow or not slow"
def test_spark_vs_oracle_dtype_agreement(con, spark):
    """r07's third red: Spark signum() is DOUBLE, DuckDB sign() is
    TINYINT — every cell equal, but the driver hashes '1.0' != '1'.
    The old local gate coerced numerics and was structurally blind to
    it. This audit compares the Spark plan's OUTPUT schema (lazy — no
    execution) against the oracle's DESCRIBE, category-by-category,
    over the whole registry."""
    from tools.check_parity import audit_dtype_agreement

    flagged = {}
    for name, spec in REGISTRY.items():
        if spec.sql is None:
            continue
        schema = spec.fn(spark, SF).schema
        bad = audit_dtype_agreement(schema, con, spec.sql)
        if bad:
            flagged[name] = bad
    assert not flagged, (
        f"Spark-vs-DuckDB output dtype disagreement (driver value-hash "
        f"mismatch even when all cells compare equal): {flagged}"
    )


@pytest.mark.slow  # full-registry sweep: CI-class, excluded from the
# driver-budget fast gate (pytest.ini addopts); round close runs it via
# -m "slow or not slow"
def test_no_nested_spark_output_columns(spark):
    """The driver canonicalizes EVERY sampled result in pandas — a
    list cell is unhashable there whether or not an oracle exists, so
    no registry entry may return an ARRAY / STRUCT / MAP output column
    (explode to rows or project to scalars first; the operators
    themselves may of course keep array intermediates)."""
    from pyspark.sql import types as ST

    flagged = {}
    for name, spec in REGISTRY.items():
        schema = spec.fn(spark, SF).schema
        bad = [
            f.name
            for f in schema.fields
            if isinstance(f.dataType, (ST.ArrayType, ST.StructType, ST.MapType))
        ]
        if bad:
            flagged[name] = bad
    assert not flagged, f"entries returning nested output columns: {flagged}"


# --- negative controls: the two r07 blind spots must STAY closed ---


def test_negative_control_dtype_disagreement_flags(con, spark):
    """A Spark DOUBLE vs DuckDB TINYINT sign column — the literal r07
    disc_sign shape — must FAIL the hardened audit."""
    from pyspark.sql import functions as F

    from tools.check_parity import audit_dtype_agreement

    sdf = spark.range(1).select(F.signum(F.lit(1.5)).alias("s"))
    bad = audit_dtype_agreement(sdf.schema, con, "SELECT sign(1.5) AS s")
    assert bad and bad[0][0] == "s", bad
    # and the matched version passes
    ok = audit_dtype_agreement(
        sdf.schema, con, "SELECT CAST(sign(1.5) AS DOUBLE) AS s"
    )
    assert not ok, ok


def test_negative_control_array_output_flags(con):
    """An oracle emitting a raw LIST column — the r07 canon-crash
    shape — must FAIL the DESCRIBE audit."""
    bad = audit_oracle_types(con, "SELECT [1, 2, 3] AS vec")
    assert bad and bad[0][0] == "vec", bad
    assert not audit_oracle_types(con, "SELECT 1::BIGINT AS vec")


def test_negative_control_driver_canon_crashes_on_lists():
    """tools/driver_gauntlet.driver_canon must raise on a list cell —
    if it silently tolerates one, the gauntlet can say 50/50 while the
    driver records CANON-CRASH reds (the r07 failure mode)."""
    import pandas as pd
    import pytest as _pt

    from tools.driver_gauntlet import driver_canon

    with _pt.raises(TypeError):
        driver_canon(pd.DataFrame({"a": [1, 1], "v": [[1, 2], [3, 4]]}))
    # scalar frames canonicalize fine, dates collapse to date strings
    out = driver_canon(
        pd.DataFrame({"a": [2, 1], "d": pd.to_datetime(["2024-01-02", "2024-01-01"])})
    )
    assert out == [("1", "2024-01-01"), ("2", "2024-01-02")]


def test_materialized_ctes_return_the_same_rows():
    """check_parity runs every oracle with its CTEs materialized; for a
    CTE referenced twice DuckDB must return the same rows either way."""
    from tools.check_parity import materialize_ctes

    sql = """WITH a AS (SELECT range AS x FROM range(6)),
    b AS (SELECT x, x * x AS y FROM a)
    SELECT p.x, q.y FROM b p JOIN b q ON p.x + 1 = q.x ORDER BY p.x"""
    rewritten = materialize_ctes(sql)
    assert rewritten.count("AS MATERIALIZED (") == 2
    con = duckdb.connect()
    assert con.execute(rewritten).fetchall() == con.execute(sql).fetchall()
    assert len(con.execute(sql).fetchall()) == 5
