"""Solo per-query timing for the optimization round (guide §1).

Usage: python tools/opt_bench.py [-n RUNS] [--noop] name [name ...]

Per run: clearCache, build the query (timed as `build`), then force it
(timed as `act`) with df.count() — the bench's action — or with the noop
sink (--noop; computes every column, guide §1.4). Reports per-run and
best times. The session, the warm-up and the count() run are bench.py's.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import SF_DIR, spark_session, timed_run, warm_up


def main() -> None:
    args = sys.argv[1:]
    runs = 5
    use_noop = False
    if "-n" in args:
        i = args.index("-n")
        runs = int(args[i + 1])
        del args[i : i + 2]
    if "--noop" in args:
        use_noop = True
        args.remove("--noop")
    names = args

    # config experiments: SPARK_GRAFT_EXTRA_CONF="k=v;k=v"
    conf = {}
    for kv in os.environ.get("SPARK_GRAFT_EXTRA_CONF", "").split(";"):
        if "=" in kv:
            k, v = kv.split("=", 1)
            conf[k.strip()] = v.strip()
    spark = spark_session("opt-bench", conf)

    from weaviate_txtai_spark.plans.queries import queries

    qs = queries()
    warm_up(spark, qs)

    for name in names:
        fn = qs[name]
        best_total, best_build, best_act = 1e9, 1e9, 1e9
        for r in range(runs):
            spark.sparkContext.setJobDescription(f"{name} run {r}")
            if use_noop:
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                df = fn(spark, SF_DIR)
                t1 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                build, act = t1 - t0, time.perf_counter() - t1
            else:
                build, act, _ = timed_run(spark, lambda: fn(spark, SF_DIR))
            print(
                f"# {name} run{r}: build={build:.3f} act={act:.3f} "
                f"total={build + act:.3f}",
                file=sys.stderr, flush=True,
            )
            best_total = min(best_total, build + act)
            best_build = min(best_build, build)
            best_act = min(best_act, act)
        print(
            f"{name}: best_total={best_total:.3f} best_build={best_build:.3f} "
            f"best_act={best_act:.3f} ({'noop' if use_noop else 'count'})",
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
