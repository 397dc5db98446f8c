"""Local harness mimicking the driver's correctness gate: run each
queries() entry on Spark and its oracle_sql() on DuckDB over the same
parquet, compare row count, column names, and order-insensitive values.

Two comparison modes:

- strict (default): DuckDB results are fetched via ``.df()`` (pandas),
  exactly like the driver, so DuckDB type widenings are visible — e.g.
  sum(BIGINT) returns HUGEINT which pandas converts to float64, and a
  float64 3.0 will NOT equal a Spark long 3.  Floats compare by exact
  repr (no decimal smoothing).  This reproduces the driver's value-hash
  failures locally (the r1 q11/q12 hash mismatches were invisible to
  the old 6dp-normalizing check).
- --loose: the old 6dp float normalization over fetchall() rows, for
  diagnosing whether a strict failure is type/representation-level or a
  real value difference.

Usage: python tools/check_oracles.py [--loose] [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def norm_cell_loose(v):
    import datetime
    import math

    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6f}"
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    return str(v)


def norm_cell_strict(v):
    """Exact normalization: numpy scalars unwrap to Python, floats by
    repr, ints by str — int 3 != float 3.0 (the driver-hash contract)."""
    import datetime
    import math

    if hasattr(v, "tolist") and not isinstance(v, (bytes, str)):
        v = v.tolist()  # numpy scalar → python scalar; ndarray → list
    elif hasattr(v, "item") and not isinstance(v, (bytes, str)):
        try:
            v = v.item()
        except (ValueError, AttributeError):
            pass
    if v is None:
        return "None"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(v)
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell_strict(x) for x in v) + "]"
    return f"{type(v).__name__}:{v}" if isinstance(v, bool) else str(v)


def compare(name, sdf, sql, con, strict: bool) -> str:
    norm = norm_cell_strict if strict else norm_cell_loose
    spark_rows = sdf.collect()
    scols = sdf.columns
    if strict:
        pdf = con.sql(sql).df()
        dcols = list(pdf.columns)
        drows = list(pdf.itertuples(index=False, name=None))
    else:
        ddf = con.sql(sql)
        dcols = [c[0] for c in ddf.description]
        drows = ddf.fetchall()
    if sorted(scols) != sorted(dcols):
        return f"SCHEMA MISMATCH spark={scols} duck={dcols}"
    if len(spark_rows) != len(drows):
        return f"ROWCOUNT MISMATCH spark={len(spark_rows)} duck={len(drows)}"
    sidx = [scols.index(c) for c in sorted(scols)]
    didx = [dcols.index(c) for c in sorted(dcols)]
    sset = sorted(tuple(norm(r[i]) for i in sidx) for r in spark_rows)
    dset = sorted(tuple(norm(r[i]) for i in didx) for r in drows)
    if sset != dset:
        diffs = [(a, b) for a, b in zip(sset, dset) if a != b][:3]
        return f"VALUE MISMATCH e.g. {diffs}"
    return f"OK ({len(spark_rows)} rows)"


def main():
    args = [a for a in sys.argv[1:]]
    strict = True
    if "--loose" in args:
        strict = False
        args.remove("--loose")
    if "--strict" in args:
        args.remove("--strict")
    sf_dir = args[0] if args and args[0].startswith("/") else "/root/testdata/sf0.001"
    only = set(a for a in args if not a.startswith("/"))

    import __spark_entry__ as entry_mod
    from medtype_spark.session import get_spark

    spark = get_spark("oracle_check", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name not in oracles:
            try:
                n = fn(spark, sf_dir).count()
                print(f"{name:32s} rows-only ({n} rows)")
            except Exception as e:
                failures += 1
                print(f"{name:32s} ERROR {type(e).__name__}: {str(e)[:200]}")
            continue
        try:
            res = compare(name, fn(spark, sf_dir), oracles[name], con, strict)
        except Exception as e:
            res = f"ERROR {type(e).__name__}: {str(e)[:300]}"
        if not res.startswith("OK"):
            failures += 1
        print(f"{name:32s} {res}")
    print(f"\n{failures} failures ({'strict' if strict else 'loose'} mode)")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
