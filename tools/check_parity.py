"""Local replica of the driver's correctness gate.

Runs every REGISTRY entry's Spark plan and DuckDB oracle SQL (every
CTE materialized) on the same sf dir and compares row count, column
names, and order-insensitive values (exact after normalization; float
drift is reported separately because it would break a value-hash).

Usage: python tools/check_parity.py [sf_dir] [query ...]
"""

from __future__ import annotations

import datetime as dt
import math
import re
import sys

import duckdb

sys.path.insert(0, ".")

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


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 and "/" in sys.argv[1] else "/root/testdata/sf0.01"
    only = [a for a in sys.argv[1:] if "/" not in a]
    spark = get_spark("parity-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{table_path(sf_dir, t)}'")
    n_pass = n_fail = n_skip = 0
    for name, spec in REGISTRY.items():
        if only and name not in only:
            continue
        if spec.sql is None:
            print(f"  SKIP (no oracle) {name}")
            n_skip += 1
            continue
        try:
            sdf = spec.fn(spark, sf_dir)
            spark_cols = sdf.columns
            spark_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"✗ {name}: SPARK ERROR {type(e).__name__}: {str(e)[:300]}")
            n_fail += 1
            continue
        sql = materialize_ctes(spec.sql)
        try:
            type_flags = audit_oracle_types(con, sql)
            res = con.execute(sql)
            duck_cols = [d[0] for d in res.description]
            duck_rows = res.fetchall()
        except Exception as e:
            print(f"✗ {name}: DUCKDB ERROR {str(e)[:300]}")
            n_fail += 1
            continue
        issues = compare(name, spark_rows, duck_rows, spark_cols, duck_cols)
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
    print(f"\n{n_pass} pass, {n_fail} fail, {n_skip} skipped (rows-only)")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
