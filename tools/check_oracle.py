"""The correctness gate: every registered query against its DuckDB oracle.

Runs every registered query on Spark and its oracle on DuckDB over the same
parquet tables, then compares row count, column names/order-insensitive
schema, and values (rows sorted, columns sorted by name) — approximating the
driver's value-hash. Floats compare exactly unless --atol is given.

Additionally compares PANDAS DTYPES the way the driver's hash pipeline sees
them: the driver materializes the DuckDB side via fetchdf(), where HUGEINT
(e.g. any windowed sum() of integers) and DECIMAL become float64 — so an
oracle emitting bare `sum(x) OVER (...)` hash-mismatches a Spark BIGINT
(3.0 vs 3) even though Python-level values compare equal. That class of bug
(sessionize_events, red in r04+r05) is invisible to a value-only compare;
the dtype check below fails it locally.

Every PASS/ROWS line carries ``row_hash`` — a stable digest of the Spark
rows, normalized as for the comparison — so two checkouts (say, a change
and its parent) can be compared query by query, the rows-only ones
included: ``diff <(cut -d'[' -f1 a.out) <(cut -d'[' -f1 b.out)``.

Usage: python tools/check_oracle.py [--sf /root/testdata/sf0.01] [--only name[,name]]
"""

from __future__ import annotations

import argparse
import hashlib
import math
import os
import sys
import time

import duckdb

# the checkout this script lives in, not whichever one happens to be installed
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from quatrain_mapreduce_spark import get_spark  # noqa: E402
from quatrain_mapreduce_spark.catalog import TABLES  # noqa: E402
from quatrain_mapreduce_spark.registry import all_queries  # noqa: E402


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def normalize(rows: list[tuple], col_names: list[str]) -> list[tuple]:
    order = sorted(range(len(col_names)), key=lambda i: col_names[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = float(v)
            vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=lambda t: tuple((x is None, str(x)) for x in t))


def row_hash(rows: list[tuple], col_names: list[str]) -> str:
    """A digest of ``rows`` that ignores row and column order: equal for
    two results that ``normalize`` to the same rows under the same column
    names."""
    canon = repr((sorted(col_names), normalize(rows, col_names)))
    return hashlib.sha1(canon.encode()).hexdigest()[:16]


_SPARK_KIND = {
    "tinyint": "i", "smallint": "i", "int": "i", "bigint": "i",
    "float": "f", "double": "f",
    "boolean": "b", "timestamp": "M", "timestamp_ntz": "M",
}


def spark_kind(dtype: str) -> str:
    """Expected pandas dtype kind for a Spark column type (simpleString)."""
    return _SPARK_KIND.get(dtype, "O")  # string/date/binary/array/map/... -> object


def dtype_problems(sdf, ddf) -> list[str]:
    """Mirror the driver's pandas-level dtype view: the DuckDB result is
    materialized with fetchdf(), so HUGEINT/DECIMAL columns arrive as
    float64. If the Spark column is integer-typed, the driver's value hash
    sees 3.0 vs 3 and flags a mismatch on identical answers. Fail that
    combination here (unless the float64 is pandas' NaN-promotion of a
    genuinely NULL-bearing integer column, which fetchall/None compare
    handles — warn only)."""
    out = []
    spark_kinds = {name: spark_kind(dt) for name, dt in sdf.dtypes}
    for col in ddf.columns:
        dk = ddf[col].dtype.kind
        sk = spark_kinds.get(col)
        if sk is None or sk == dk:
            continue
        if "O" in (sk, dk):
            continue  # object-side representations (str/date/list) are loose
        if sk == "i" and dk == "f":
            if ddf[col].isna().any():
                continue  # NULL-int promotion, not a typing bug
            out.append(
                f"dtype: oracle col {col!r} is float64 (HUGEINT/DECIMAL via "
                f"fetchdf) but Spark emits integer — add a CAST(... AS BIGINT) "
                f"in the oracle"
            )
        else:
            out.append(f"dtype: col {col!r} spark kind={sk} duck kind={dk}")
    return out


def values_equal(a, b, atol: float) -> bool:
    if isinstance(a, float) and isinstance(b, (float, int)):
        if math.isnan(a) and isinstance(b, float) and math.isnan(b):
            return True
        return abs(a - float(b)) <= atol
    return a == b


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default=None)
    ap.add_argument("--atol", type=float, default=0.0)
    ap.add_argument(
        "--vanilla",
        action="store_true",
        help="build a bare SparkSession (optionally non-UTC via --tz) instead "
        "of get_spark() — mirrors the driver harness, which sets none of the "
        "engine's session confs; catches session-conf-dependent bugs",
    )
    ap.add_argument("--tz", default="America/Chicago", help="session tz for --vanilla")
    args = ap.parse_args()

    if args.vanilla:
        from quatrain_mapreduce_spark.planaudit import lint_session

        spark = lint_session()
        spark.conf.set("spark.sql.session.timeZone", args.tz)
    else:
        spark = get_spark(master="local[8]", shuffle_partitions=8)
    con = duck_connection(args.sf)
    queries = all_queries()
    only = set(args.only.split(",")) if args.only else None

    n_pass = n_fail = n_rows_only = 0
    for name, q in sorted(queries.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = q.fn(spark, args.sf)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            n_fail += 1
            continue
        if q.oracle is None:
            print(f"ROWS  {name}: {len(srows)} rows (no oracle) "
                  f"row_hash={row_hash(srows, scols)} [{time.time()-t0:.1f}s]")
            n_rows_only += 1
            continue
        try:
            res = con.execute(q.oracle)
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
            ddf = con.execute(q.oracle).fetchdf()  # driver's pandas view
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            n_fail += 1
            continue
        problems = dtype_problems(sdf, ddf)
        if sorted(scols) != sorted(dcols):
            problems.append(f"columns spark={sorted(scols)} duck={sorted(dcols)}")
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duck={len(drows)}")
        if not problems:
            ns, nd = normalize(srows, scols), normalize(drows, dcols)
            bad = 0
            first = None
            for rs, rd in zip(ns, nd):
                if len(rs) != len(rd) or not all(values_equal(a, b, args.atol) for a, b in zip(rs, rd)):
                    bad += 1
                    if first is None:
                        first = (rs, rd)
            if bad:
                problems.append(f"{bad}/{len(ns)} rows differ; first: spark={first[0]} duck={first[1]}")
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems))
            n_fail += 1
        else:
            print(f"PASS  {name}: {len(srows)} rows row_hash={row_hash(srows, scols)} "
                  f"[{time.time()-t0:.1f}s]")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
