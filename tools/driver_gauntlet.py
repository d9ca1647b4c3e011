"""Driver-shaped correctness gauntlet.

Replays the EXTERNAL gate's exact shape before the external gate does:
- a PLAIN SparkSession (no engine configs, default ~1g driver heap —
  the config that exposed the round-6 lineage OOM), relying on
  __spark_entry__._configure for the mandatory confs, exactly like the
  driver;
- the FIRST N (default 50) registry entries in iteration order — the
  driver's sample window — or the named entries (the targeted
  re-verification loop for maintenance work);
- the DRIVER'S OWN canonicalization shape: both sides fetched into
  pandas, every column lex-sorted via sort_values, cells stringified,
  THEN compared. This is what the r07 gauntlet lacked — it said
  182/182 on tuple-compare while the driver crashed on unhashable
  list cells and hash-mismatched a float64-vs-int8 sign column. A
  pandas sort over an ARRAY column raises here exactly as it does in
  the driver, and '1.0' != '1' fails here exactly as the value-hash
  does there;
- the strict audits from tools/check_parity.py (HUGEINT/TIMESTAMPTZ/
  DECIMAL/nested oracle outputs; Spark-vs-DuckDB dtype disagreement),
  through check_parity's runner loop.

Usage: python tools/driver_gauntlet.py [sf_dir] [N | name ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

from tools.check_parity import Gate, run_gate, sf_and_names  # noqa: E402


def _canon_cell(v):
    """Stringify one cell the way date-producing entries' driver-green
    history implies: Spark DATE arrives as datetime.date ('2024-01-02')
    while DuckDB DATE arrives as a midnight Timestamp ('2024-01-02
    00:00:00'), and those entries pass the driver — so midnight
    timestamps collapse to the date string on BOTH sides (symmetric:
    cannot create a one-sided mismatch)."""
    import datetime as dt
    import math

    # missing values: Spark string-null is None, duck's is NaN — one
    # symbol for both so a representation artifact can't mismatch
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if isinstance(v, dt.datetime):
        if (
            v.hour == v.minute == v.second == 0
            and v.microsecond == 0
            and getattr(v, "nanosecond", 0) == 0
        ):
            return v.date().isoformat()
        return str(v)
    if isinstance(v, dt.date):
        return v.isoformat()
    return str(v)


def driver_canon(pdf):
    """Mimic the driver's pandas canonicalizer: sort by ALL columns
    (column order normalized by name first), then stringify every
    cell. Raises TypeError on list cells — deliberately, because the
    driver does (r07: ``TypeError: unhashable type: 'list'``)."""
    pdf = pdf.reindex(sorted(pdf.columns, key=str.lower), axis=1)
    if len(pdf.columns):
        pdf = pdf.sort_values(by=list(pdf.columns), kind="mergesort")
    return [
        tuple(_canon_cell(v) for v in row)
        for row in pdf.itertuples(index=False, name=None)
    ]


def pandas_compare(name, spark_pdf, duck_pdf, *_cols):
    """Driver-shaped comparison (the columns ride the frames); returns
    a list of issue strings."""
    issues = []
    if len(spark_pdf) != len(duck_pdf):
        issues.append(f"ROWCOUNT spark={len(spark_pdf)} duck={len(duck_pdf)}")
    s_cols = sorted(c.lower() for c in spark_pdf.columns)
    d_cols = sorted(c.lower() for c in duck_pdf.columns)
    if s_cols != d_cols:
        issues.append(f"COLS spark={s_cols} duck={d_cols}")
    if issues:
        return issues
    try:
        s = driver_canon(spark_pdf)
    except Exception as ex:  # unhashable lists etc. — driver records err
        return [f"CANON-CRASH spark side: {type(ex).__name__}: {str(ex)[:120]}"]
    try:
        d = driver_canon(duck_pdf)
    except Exception as ex:
        return [f"CANON-CRASH oracle side: {type(ex).__name__}: {str(ex)[:120]}"]
    if s != d:
        n_diff = sum(1 for a, b in zip(s, d) if a != b)
        example = next(((a, b) for a, b in zip(s, d) if a != b), None)
        issues.append(f"VALUE-HASH {n_diff} canon rows differ; e.g. {example}")
    return issues


DRIVER = Gate(
    fetch=lambda sdf: (None, sdf.toPandas()),
    fetch_oracle=lambda res: (None, res.df()),
    compare=pandas_compare,
    prepare_sql=lambda sql: sql,
    # the driver's rows-only path still canonicalizes — an array
    # output column crashes it even without an oracle
    rows_only=driver_canon,
)


def main(argv: list[str] | None = None) -> int:
    sf_dir, names = sf_and_names(sys.argv[1:] if argv is None else argv)

    import __spark_entry__ as e

    qs = e.queries()
    if not names or names[0].isdigit():
        names = list(qs)[: int(names[0]) if names else 50]
    # plain session — the external verifier's config, NOT get_spark
    spark = SparkSession.builder.master(
        f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]"
    ).getOrCreate()
    return run_gate(spark, sf_dir, names, qs, e.oracle_sql(), DRIVER, "gauntlet")


if __name__ == "__main__":
    raise SystemExit(main())
