"""Build/act table of all 52 bench.py queries, from one traced pass.

    python3 perfbench/query_table.py --sf-dir DIR

Run from the root of a checkout; ``DIR`` holds the sf0.1 tables
(TESTDATA.md). Each query is built (its function returns) inside a
``plans.build`` span and forced with ``count()``, as bench.py does,
inside an ``act`` span, after ``clearCache()``. The table gives each
query's build time and jobs and its act time and jobs, then the totals;
the per-layer metrics of the whole pass follow. It takes about two
minutes on 4 cores.
"""

from __future__ import annotations

import argparse
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--sf-dir", required=True)
    args = p.parse_args(argv)
    sf_dir = os.path.abspath(args.sf_dir)
    root = os.getcwd()
    sys.path.insert(0, root)
    import bench
    import harness
    from run import print_query_table
    from spans import Tracer

    with harness.RunDir(root) as run:
        tracer = Tracer(run.sub("eventlog"))
        tracer.install()
        spark = harness.set_up(run, tracer.spark_conf())
        try:
            from weaviate_txtai_spark.plans.queries import queries

            fns = queries()
            tracer.measuring = True
            with tracer.span("measure"):
                for name in bench.HEADLINE + bench.HEADLINE_HEAVY:
                    spark.catalog.clearCache()
                    with tracer.span("plans.build", name):
                        df = fns[name](spark, sf_dir)
                    with tracer.span("act", name):
                        df.count()
            tracer.measuring = False
            app_id = spark.sparkContext.applicationId
        finally:
            harness.shut_down(spark)
        print_query_table(tracer, app_id, totals=True)
        for k, v in tracer.metrics(app_id).items():
            if v:
                print(f"{k}: {v:.6g}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
