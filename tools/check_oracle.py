"""Local replica of the driver's t2 correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at the given sf dir, then compares the results two ways:

1. **Exact-value compare** (strict): order-insensitive multiset of
   canonicalized raw values (Decimal kept exact, floats by repr).
2. **Driver-faithful compare**: both results converted THROUGH PANDAS
   (``toPandas()`` / ``rel.df()``) and every cell stringified — this is
   how the driver canonicalizes, and it is where DuckDB's
   DECIMAL→float64 / HUGEINT→float64 rendering diverges from Spark's
   Decimal-preserving ``toPandas`` even when values are exactly equal.
   A query is only green if BOTH compares pass.

The pandas path also rejects any unhashable (list/array) output cell —
the driver ABORTS its whole run on those, so they must never ship.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import datetime
import decimal
import math
import os
import sys
from collections import Counter

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import local_env  # noqa: E402,F401  (harness opt-in: protobuf site for tws)


def canon(v):
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return f"dec:{v.normalize()}"
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return "b:" + bytes(v).hex()
    if isinstance(v, bool):
        return f"bool:{v}"
    return f"{type(v).__name__}:{v}"


def frame_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(canon(r[i]) for i in order) for r in rows)


def pandas_multiset(pdf):
    """Driver-faithful canon: pandas conversion, then str() every cell.

    Mirrors the driver's ``_canon`` (sort columns by name, sort rows,
    hash stringified values). Raises on unhashable cells (lists) the
    same way pandas ``sort_values`` does in the driver.
    """
    pdf = pdf[sorted(pdf.columns)]
    out = Counter()
    for row in pdf.itertuples(index=False, name=None):
        for v in row:
            if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
                raise TypeError(
                    f"unhashable array cell {type(v).__name__} — driver would abort")
        out[tuple(str(v) for v in row)] += 1
    return out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry_mod
    from olist_snowflake_dbt_spark.session import get_spark

    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem events "
              "documents embeddings").split():
        # driver testdata lays each table out as ONE file named
        # {t}.parquet; Spark-written datasets (the local sf1 scale lane)
        # make it a DIRECTORY of part files — glob those
        src = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(src):
            src = f"{src}/*.parquet"
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failed, passed, rows_only = [], [], []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
            spdf = sdf.toPandas()
        except Exception as e:
            failed.append((name, f"SPARK ERROR: {e}"))
            print(f"✗ {name}: spark error: {e}")
            continue
        if name not in oracles:
            try:
                pandas_multiset(spdf)
                print(f"· {name}: rows-only ({len(srows)} rows)")
            except TypeError as e:
                failed.append((name, str(e)))
                print(f"✗ {name}: {e}")
                continue
            rows_only.append(name)
            continue
        try:
            rel = con.sql(oracles[name])
            drows = rel.fetchall()
            dcols = [d[0] for d in rel.description]
            dpdf = con.sql(oracles[name]).df()
        except Exception as e:
            failed.append((name, f"DUCKDB ERROR: {e}"))
            print(f"✗ {name}: duckdb error: {e}")
            continue
        problems = []
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duckdb={len(drows)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"columns spark={sorted(scols)} duckdb={sorted(dcols)}")
        if not problems:
            sm, dm = frame_multiset(scols, srows), frame_multiset(dcols, drows)
            if sm != dm:
                diff_s = list((sm - dm).items())[:3]
                diff_d = list((dm - sm).items())[:3]
                problems.append(f"values spark-only={diff_s} duckdb-only={diff_d}")
        if not problems:
            try:
                pm_s, pm_d = pandas_multiset(spdf), pandas_multiset(dpdf)
            except TypeError as e:
                problems.append(str(e))
            else:
                if pm_s != pm_d:
                    diff_s = list((pm_s - pm_d).items())[:3]
                    diff_d = list((pm_d - pm_s).items())[:3]
                    problems.append(
                        f"DRIVER-REPR values spark-only={diff_s} duckdb-only={diff_d}")
        if problems:
            failed.append((name, "; ".join(problems)))
            print(f"✗ {name}: {'; '.join(problems)[:400]}")
        else:
            passed.append(name)
            print(f"✓ {name} ({len(srows)} rows)")

    print(f"\n{len(passed)} passed, {len(failed)} failed, {len(rows_only)} rows-only")
    if failed:
        print("FAILED:", " ".join(n for n, _ in failed))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
