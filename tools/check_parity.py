"""Local replica of the driver's correctness gate.

Runs every REGISTRY entry's Spark plan and DuckDB oracle SQL (every
CTE materialized) on the same sf dir and compares row count, column
names, and order-insensitive values (exact after normalization; float
drift is reported separately because it would break a value-hash).
The runner loop (:func:`run_gate`) is shared with
tools/driver_gauntlet.py, which swaps in the driver's session and
comparator.

Usage: python tools/check_parity.py [sf_dir] [query ...]
"""

from __future__ import annotations

import datetime as dt
import math
import os
import re
import sys
from collections.abc import Callable
from typing import NamedTuple

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import tools  # noqa: E402,F401  (the root for Spark's workers too)

from lol_data_pipeline_spark.io import TABLES, table_path  # noqa: E402
from lol_data_pipeline_spark.session import get_spark  # noqa: E402
from lol_data_pipeline_spark.plans import REGISTRY  # noqa: E402


# DuckDB output types that the driver's fetch path renders differently
# from Spark's (HUGEINT -> float64 via pandas; TIMESTAMPTZ vs naive;
# DECIMAL vs double). An oracle whose OUTPUT schema contains one of
# these will hash-mismatch in CORRECTNESS_rN even when values agree —
# round 6 lost 4 driver rows to exactly this, so the audit is a gate.
BAD_ORACLE_TYPES = (
    "HUGEINT",  # also matches UHUGEINT via substring
    "TIMESTAMP WITH TIME ZONE",
    "DECIMAL",
    # Spark has no unsigned integers — an oracle producing one (some
    # DuckDB builtins do) must cast, or the driver's pandas fetch
    # renders a dtype Spark can't match
    "UINTEGER",
    "UBIGINT",
    "UTINYINT",
    "USMALLINT",
)


def audit_oracle_types(con, sql):
    """Return [(col, type)] oracle output columns whose DuckDB type the
    driver's comparator renders differently from Spark's (drift-prone),
    PLUS any nested (LIST/STRUCT/MAP) output column: the driver
    canonicalizes results in pandas with a sort over every column, and
    list cells are unhashable there — round 7 lost 2 rows to a raw
    ``TypeError: unhashable type: 'list'``. Registry entries must
    explode or stringify nested values before returning."""
    res = con.execute(f"DESCRIBE {sql}")
    flagged = []
    for row in res.fetchall():
        col, typ = row[0], row[1]
        u = typ.upper()
        if any(b in u for b in BAD_ORACLE_TYPES):
            flagged.append((col, typ))
        elif "[]" in u or "STRUCT(" in u or "MAP(" in u or u.endswith("LIST"):
            flagged.append((col, typ + " [nested: unhashable in driver canon]"))
    return flagged


# --- Spark-vs-DuckDB output dtype agreement (r07 disc_sign class) ---
#
# The driver hashes canonicalized pandas values, so a Spark DOUBLE
# column vs a DuckDB TINYINT oracle column hash-mismatches even when
# every value compares equal (1.0 vs 1). norm()'s numeric coercion in
# compare() below is structurally blind to it; this audit is not.
# Integer widths collapse (numpy int8 and int64 stringify alike);
# float32 vs float64 is flagged (shortest-repr strings differ).

_DUCK_CATEGORY = (
    ("TINYINT", "int"), ("SMALLINT", "int"), ("INTEGER", "int"),
    ("BIGINT", "int"), ("HUGEINT", "int"),
    ("DOUBLE", "float64"), ("FLOAT", "float32"), ("REAL", "float32"),
    ("DECIMAL", "decimal"), ("VARCHAR", "str"), ("BOOLEAN", "bool"),
    ("DATE", "date"), ("TIMESTAMP", "timestamp"), ("BLOB", "binary"),
)


def _duck_category(typ: str) -> str:
    u = typ.upper()
    if "[]" in u or "STRUCT(" in u or "MAP(" in u:
        return "nested"
    for sub, cat in _DUCK_CATEGORY:
        if sub in u:
            return cat
    return f"other:{u}"


def _spark_category(dt_obj) -> str:
    from pyspark.sql import types as ST

    if isinstance(dt_obj, (ST.ByteType, ST.ShortType, ST.IntegerType, ST.LongType)):
        return "int"
    if isinstance(dt_obj, ST.DoubleType):
        return "float64"
    if isinstance(dt_obj, ST.FloatType):
        return "float32"
    if isinstance(dt_obj, ST.DecimalType):
        return "decimal"
    if isinstance(dt_obj, ST.StringType):
        return "str"
    if isinstance(dt_obj, ST.BooleanType):
        return "bool"
    if isinstance(dt_obj, ST.DateType):
        return "date"
    if isinstance(dt_obj, (ST.TimestampType, ST.TimestampNTZType)):
        return "timestamp"
    if isinstance(dt_obj, ST.BinaryType):
        return "binary"
    if isinstance(dt_obj, (ST.ArrayType, ST.StructType, ST.MapType)):
        return "nested"
    return f"other:{dt_obj.simpleString()}"


def audit_dtype_agreement(spark_schema, con, sql):
    """Return [(col, spark_cat, duck_type)] where the Spark output
    dtype and the DuckDB oracle output type land in different hash
    categories (name-matched; column-name mismatches are compare()'s
    job, not this audit's)."""
    duck = {
        row[0].lower(): row[1]
        for row in con.execute(f"DESCRIBE {sql}").fetchall()
    }
    flagged = []
    for f in spark_schema.fields:
        dtyp = duck.get(f.name.lower())
        if dtyp is None:
            continue
        scat, dcat = _spark_category(f.dataType), _duck_category(dtyp)
        if scat != dcat:
            flagged.append((f.name, scat, dtyp))
    return flagged


# DuckDB inlines a CTE at each of its references. The component
# oracles reference every label round twice, so inlined they blow up
# with the round count (at sf0.1 they spilled ~7 GB and never
# finished); materialized, each CTE runs once, with the same rows.
_CTE = re.compile(r"(\bWITH\s+|,\s*)(\w+)\s+AS\s+\(", re.IGNORECASE)


def materialize_ctes(sql: str) -> str:
    """``sql`` with every CTE evaluated ``AS MATERIALIZED``."""
    return _CTE.sub(r"\1\2 AS MATERIALIZED (", sql)


def norm(v):
    if isinstance(v, dt.datetime):
        # Deliberately do NOT strip tzinfo: an aware oracle timestamp vs
        # Spark's naive one is a real driver hash-mismatch and must FAIL
        # here (round 6: to_timestamp() TIMESTAMPTZ oracles went red).
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    return v


def rows_key(r):
    return tuple("\0N" if v is None else str(v) for v in r)


def compare(name, spark_rows, duck_rows, spark_cols, duck_cols):
    issues = []
    if len(spark_rows) != len(duck_rows):
        issues.append(f"ROWCOUNT spark={len(spark_rows)} duck={len(duck_rows)}")
    if [c.lower() for c in spark_cols] != [c.lower() for c in duck_cols]:
        issues.append(f"COLS spark={spark_cols} duck={duck_cols}")
    if not issues:
        s = sorted((tuple(norm(v) for v in r) for r in spark_rows), key=rows_key)
        d = sorted((tuple(norm(v) for v in r) for r in duck_rows), key=rows_key)
        n_exact = n_close = n_diff = 0
        example = None
        for sr, dr in zip(s, d):
            if sr == dr:
                n_exact += 1
                continue
            close = len(sr) == len(dr) and all(
                a == b
                or (
                    isinstance(a, float)
                    and isinstance(b, float)
                    and abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
                )
                for a, b in zip(sr, dr)
            )
            if close:
                n_close += 1
                if example is None:
                    example = (sr, dr)
            else:
                n_diff += 1
                if example is None:
                    example = (sr, dr)
        if n_diff:
            issues.append(f"VALUES {n_diff} rows differ; e.g. {example}")
        elif n_close:
            issues.append(f"FLOAT-DRIFT {n_close} rows (hash risk); e.g. {example}")
    return issues


class Gate(NamedTuple):
    """What one parity gate compares; :func:`run_gate` does the rest."""

    fetch: Callable  # Spark DataFrame -> (columns, rows)
    fetch_oracle: Callable  # DuckDB result -> (columns, rows)
    compare: Callable  # (name, spark rows, oracle rows, spark cols, oracle cols) -> issues
    prepare_sql: Callable  # registered oracle SQL -> the SQL run
    rows_only: Callable | None  # raises on bad oracle-less rows; None skips those


ROWS = Gate(
    fetch=lambda sdf: (sdf.columns, [tuple(r) for r in sdf.collect()]),
    fetch_oracle=lambda res: ([d[0] for d in res.description], res.fetchall()),
    compare=compare,
    prepare_sql=materialize_ctes,
    rows_only=None,
)


def oracle_connection(sf_dir: str):
    """A DuckDB connection with one view per testdata table of ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{table_path(sf_dir, t)}'")
    return con


def sf_and_names(argv: list[str]) -> tuple[str, list[str]]:
    """``[sf_dir] [name ...]``: the argument that is a path (has a '/')
    or an existing directory is the sf dir."""
    dirs = [a for a in argv if "/" in a or os.path.isdir(a)]
    return (dirs[0] if dirs else "/root/testdata/sf0.01"), [a for a in argv if a not in dirs]


def run_gate(spark, sf_dir, names, plans, oracles, gate: Gate, label: str) -> int:
    """Check each of ``names``: ``plans[name](spark, sf_dir)`` against
    ``oracles.get(name)`` over DuckDB views of ``sf_dir``, compared by
    ``gate``, plus the oracle-type and dtype audits. Prints one line
    per entry and a ``label`` tally; returns 1 on any failure."""
    con = oracle_connection(sf_dir)
    n_pass = n_fail = n_rows_only = 0
    for name in names:
        if name not in plans:
            print(f"✗ {name}: NOT IN REGISTRY")
            n_fail += 1
            continue
        sql = oracles.get(name)
        if sql is None and gate.rows_only is None:
            print(f"  SKIP (no oracle) {name}")
            n_rows_only += 1
            continue
        try:
            sdf = plans[name](spark, sf_dir)
            spark_cols, spark_rows = gate.fetch(sdf)
        except Exception as e:
            print(f"✗ {name}: SPARK ERROR {type(e).__name__}: {str(e)[:300]}")
            n_fail += 1
            continue
        if sql is None:
            try:
                gate.rows_only(spark_rows)
            except Exception as e:
                print(f"✗ {name}: CANON-CRASH rows-only: {type(e).__name__}")
                n_fail += 1
                continue
            print(f"~ {name}: rows-only ({len(spark_rows)} rows)")
            n_rows_only += 1
            continue
        sql = gate.prepare_sql(sql)
        try:
            type_flags = audit_oracle_types(con, sql)
            duck_cols, duck_rows = gate.fetch_oracle(con.execute(sql))
        except Exception as e:
            print(f"✗ {name}: DUCKDB ERROR {str(e)[:300]}")
            n_fail += 1
            continue
        issues = gate.compare(name, spark_rows, duck_rows, spark_cols, duck_cols)
        if type_flags:
            issues.append(f"ORACLE-TYPE {type_flags}")
        dtype_flags = audit_dtype_agreement(sdf.schema, con, sql)
        if dtype_flags:
            issues.append(f"DTYPE-DISAGREE {dtype_flags}")
        if issues:
            print(f"✗ {name}: " + " | ".join(issues))
            n_fail += 1
        else:
            print(f"✓ {name} ({len(spark_rows)} rows)")
            n_pass += 1
    print(
        f"\n{label}: {n_pass} pass, {n_fail} fail, {n_rows_only} rows-only "
        f"of {len(names)} ({sf_dir})"
    )
    return 1 if n_fail else 0


def main(argv: list[str] | None = None) -> int:
    sf_dir, names = sf_and_names(sys.argv[1:] if argv is None else argv)
    plans = {n: spec.fn for n, spec in REGISTRY.items()}
    oracles = {n: spec.sql for n, spec in REGISTRY.items()}
    spark = get_spark("parity-check")
    return run_gate(spark, sf_dir, names or list(plans), plans, oracles, ROWS, "parity")


if __name__ == "__main__":
    raise SystemExit(main())
