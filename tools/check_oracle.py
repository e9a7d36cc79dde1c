"""Local simulation of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB
at sf0.01, compares row count, column names, and order-insensitive values
(rows sorted by all columns, floats compared exactly after the in-query
rounding). Spark runs on bench.py's session with a 6g driver; DuckDB
is bounded to DUCKDB_THREADS threads and DUCKDB_MEMORY, spilling to a
temporary directory outside the tree that is removed at exit.
Usage: python tools/check_oracle.py [name ...]
"""

from __future__ import annotations

import math
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from bench import spark_session

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
# the same bound perfbench/oracle.py puts on DuckDB: an unbounded
# in-process DuckDB grew past the box's memory on the sf0.1 oracles
DUCKDB_THREADS = 2
DUCKDB_MEMORY = "4GB"


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, list):
        return tuple(norm(x) for x in v)
    return v


def main():
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    only = set(sys.argv[1:])

    # bench.py's session; the 6g driver leaves room for DuckDB's 4 GB
    # in the same process
    spark = spark_session("check-oracle", {"spark.driver.memory": "6g"})
    spill = tempfile.mkdtemp(prefix="check-oracle-")
    try:
        failed = run(spark, qs, oracles, only, spill)
    finally:
        shutil.rmtree(spill, ignore_errors=True)
    print()
    if failed:
        print(f"{len(failed)} FAILED: {failed}")
        sys.exit(1)
    print("all green")
    spark.stop()


def run(spark, qs, oracles, only, spill) -> list:
    con = duckdb.connect()
    con.execute(f"SET threads={DUCKDB_THREADS}")
    con.execute(f"SET memory_limit='{DUCKDB_MEMORY}'")
    con.execute(f"SET temp_directory='{os.path.join(spill, 'spill')}'")
    for t in [
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    ]:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )

    from weaviate_txtai_spark.cache import cache_scope

    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            # per-gate cache scope: a full 300+-gate sweep otherwise
            # accumulates every operator-internal persist (shingle
            # tables, signature sets, probe fan-outs) until session end
            # — hundreds of leaked cached frames competing for executor
            # memory by the sweep's tail (r13 cache-lifecycle review)
            with cache_scope():
                sdf = fn(spark, SF_DIR)
                srows = [tuple(norm(v) for v in r) for r in sdf.collect()]
                scols = sorted(sdf.columns)
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failed.append(name)
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(srows)} rows)")
            continue
        try:
            ddf = con.sql(oracles[name])
            dcols = sorted(ddf.columns)
            drows = [tuple(norm(v) for v in r) for r in ddf.fetchall()]
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failed.append(name)
            continue
        ok = True
        if len(srows) != len(drows):
            print(f"FAIL {name}: rowcount spark={len(srows)} duck={len(drows)}")
            ok = False
        if scols != dcols:
            print(f"FAIL {name}: cols spark={scols} duck={dcols}")
            ok = False
        if ok:
            # order-insensitive: re-order each row by sorted column name,
            # then sort row lists
            sidx = [sdf.columns.index(c) for c in scols]
            didx = [ddf.columns.index(c) for c in dcols]

            # NULLs sort first (python can't compare None < float; the
            # driver's pandas canonicalizer has its own NULL ordering —
            # identical on both sides is all that matters here)
            def _key(row):
                return tuple(
                    (v is None, "" if v is None else norm(v))
                    for v in row
                )

            ss = sorted(
                (tuple(r[i] for i in sidx) for r in srows), key=_key
            )
            dd = sorted(
                (tuple(r[i] for i in didx) for r in drows), key=_key
            )
            if ss != dd:
                diffs = [
                    (a, b) for a, b in zip(ss, dd) if a != b
                ][:3]
                print(f"FAIL {name}: values differ; first diffs: {diffs}")
                ok = False
        if ok and len(srows) == 0:
            # a 0-row == 0-row "pass" verifies nothing (VERDICT r5 #2:
            # nation_market_share filtered on a value the generator never
            # produces and stayed green for a round) — treat as failure
            print(f"FAIL {name}: 0 rows — vacuously green oracle")
            ok = False
        if ok:
            print(f"PASS {name} ({len(srows)} rows)")
        else:
            failed.append(name)
    return failed


if __name__ == "__main__":
    main()
