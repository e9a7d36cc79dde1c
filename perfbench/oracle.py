"""Regenerate the stored DuckDB answers of the vector_batch workload.

    python3 perfbench/oracle.py            # rewrites expected/vector_batch.json

Run from the root of a checkout. It runs each query's ``oracle_sql()``
in DuckDB over the sf0.1 ``embeddings`` table in ``data/sf0.1``, with
bounded memory and threads and its spill directory in a temporary
directory outside the working tree, and stores row count, column names
and the order-insensitive value hash of every answer, with the SHA-256
of the table they were computed over.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import datagen  # noqa: E402
from workloads import EXPECTED, VECTOR_QUERIES  # noqa: E402


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--memory-limit", default="4GB")
    p.add_argument("--threads", type=int, default=2)
    args = p.parse_args(argv)
    sys.path.insert(0, os.getcwd())
    import duckdb

    from weaviate_txtai_spark.plans.queries import oracle_sql

    sql = oracle_sql()
    tmp = tempfile.mkdtemp(prefix="perfbench-oracle-")
    try:
        table = datagen.table_path("embeddings")
        con = duckdb.connect()
        con.execute(f"SET threads={int(args.threads)}")
        con.execute(f"SET memory_limit='{args.memory_limit}'")
        con.execute(f"SET temp_directory='{os.path.join(tmp, 'spill')}'")
        con.execute("SET preserve_insertion_order=false")
        con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{table}'")
        answers = {}
        for name in VECTOR_QUERIES:
            t = time.perf_counter()
            res = con.sql(sql[name])
            answers[name] = checks.canonical_hash(res.columns, res.fetchall())
            print(f"{name}: {answers[name]['rows']} rows, {time.perf_counter() - t:.1f} s")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.dirname(EXPECTED), exist_ok=True)
    with open(EXPECTED, "w") as f:
        json.dump(
            {
                "tables": {"embeddings": datagen.sha256("embeddings")},
                "duckdb": duckdb.__version__,
                "queries": answers,
            },
            f,
            indent=1,
            sort_keys=True,
        )
        f.write("\n")
    print(f"wrote {os.path.relpath(EXPECTED)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
