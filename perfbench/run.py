"""End-to-end and per-layer benchmark of weaviate_txtai_spark.

    python3 perfbench/run.py --workload sessions --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. Workloads: sessions, vector_batch (see
README.md). One client thread drives the program in
a closed loop on local[nproc] with bench.py's session settings.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` is a
separate run that wraps each layer's entry points in spans, writes a
Spark event log and prints the per-layer metrics instead. The last
line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402
from contextlib import nullcontext  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

E2E_UNITS = {"setup_s": "s", "round_s": "s"}


def parse(argv):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def per_kind(ops) -> dict:
    """Median latency (ms) per operation kind (upsert and delete
    together as mutation), and per surface the read right after a
    write."""
    from harness import median
    from workloads import is_write

    kinds: dict[str, list] = {}
    after: dict[str, list] = {}
    for o in ops:
        surface, _, verb = o.kind.rpartition(".")
        prefix = surface + "." if surface else ""
        kind = prefix + "mutation" if is_write(o.kind) else o.kind
        kinds.setdefault(kind, []).append(o.s)
        if o.after_write and not is_write(o.kind):
            after.setdefault(prefix, []).append(o.s)
    out = {f"{k}_p50_ms": median(v) * 1e3 for k, v in sorted(kinds.items())}
    for prefix, v in sorted(after.items()):
        out[f"{prefix}read_after_mutation_p50_ms"] = median(v) * 1e3
    return out


def main(argv=None) -> int:
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "weaviate_txtai_spark", "__init__.py")):
        print(
            "perfbench: no weaviate_txtai_spark/ package in the working "
            "directory; run from the root of a checkout",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, root)
    args = parse(argv)

    import selftest

    if not selftest.run():
        print("perfbench: the answer checks accept a corrupted answer", file=sys.stderr)
        return 3

    import harness
    from workloads import WORKLOADS, Recorder

    with harness.RunDir(root) as run:
        tracer = None
        if args.trace:
            from spans import Tracer

            tracer = Tracer(run.sub("eventlog"))
            tracer.install()
        # set-up runs from process start: imports, the JVM launch,
        # ensure_shipped and the warm-up query
        spark = harness.set_up(run, tracer.spark_conf() if tracer else None)
        setup_s = time.perf_counter() - T_START
        try:
            wl = WORKLOADS[args.workload](spark, args.seed, run)
            rec = Recorder(tracer)
            rounds: list[float] = []
            if tracer:
                tracer.measuring = True
            with tracer.span("measure") if tracer else nullcontext():
                ingest_rows = wl.ingest(rec)
                n_ingest = len(rec.ops)
                t0 = time.perf_counter()
                while True:
                    n0 = len(rec.ops)
                    wl.round(rec)
                    rounds.append(sum(o.s for o in rec.ops[n0:]))
                    # a traced run does one round: fixed work, so its
                    # counts repeat exactly
                    if tracer or time.perf_counter() - t0 >= args.seconds:
                        break
            if tracer:
                tracer.measuring = False
            layer_extra = wl.finish() if tracer else {}
            rss = harness.peak_rss_mb(spark)
            app_id = spark.sparkContext.applicationId
        finally:
            harness.shut_down(spark)

        ops = rec.ops[n_ingest:]
        info = per_kind(ops)
        for prefix, rows in ingest_rows.items():
            took = sum(o.s for o in rec.ops[:n_ingest] if o.kind == prefix + "ingest")
            info[f"{prefix}ingest_rows_per_s"] = rows / took
        info["ops_per_s"] = len(ops) / sum(o.s for o in ops)
        info["peak_rss_mb"] = rss
        print(
            f"# {args.workload} seed={args.seed} cores={harness.cpu_count()} "
            f"rounds={len(rounds)} setup_s={setup_s:.3f}"
        )
        for k, v in info.items():
            print(f"# {k} = {v:.6g}")
        print("# ops (ms): " + " ".join(f"{o.kind}={o.s * 1e3:.0f}" for o in rec.ops))

        if tracer:
            metrics = tracer.metrics(app_id)
            metrics.update(
                {
                    "embeddings.read_after_mutation_p50_ms": info.get(
                        "read_after_mutation_p50_ms", 0.0
                    ),
                    "index.data_files": 0,
                    "index.bytes_per_vector": 0.0,
                    "trace.round_s": harness.median(rounds),
                }
            )
            metrics.update(layer_extra)
            print_query_table(tracer, app_id)
            out = {k: {"value": v, "unit": layer_unit(k)} for k, v in metrics.items()}
        else:
            values = {
                "setup_s": setup_s,
                "round_s": harness.median(rounds),
            }
            out = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in values.items()}

    for k, v in out.items():
        print(f"# {k}: {v['value']:.6g} {v['unit']}")
    attempted = len(rec.ops)
    failed = sum(not o.ok for o in rec.ops)
    print(f"# attempted={attempted} failed={failed}")
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": out,
            }
        )
    )
    return 0


def layer_unit(name: str) -> str:
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith(".s") or name.endswith("_s"):
        return "s"
    if name.endswith("bytes_per_vector"):
        return "B"
    return "count"


def print_query_table(tracer, app_id, totals: bool = False) -> None:
    """Per-query build/act time and job counts of the traced pass."""
    jobs = tracer.jobs_per_span(app_id)
    rows: dict[str, list] = {}
    for sp in tracer.spans:
        if sp.measured and sp.key in ("plans.build", "act") and sp.detail:
            r = rows.setdefault(sp.detail, [0.0, 0, 0.0, 0])
            i = 0 if sp.key == "plans.build" else 2
            r[i] += sp.s
            r[i + 1] += jobs.get(sp.sid, 0)
    if not rows:
        return
    if totals:
        rows["total"] = [sum(r[i] for r in rows.values()) for i in range(4)]
    print("# | query | build s | build jobs | act s | act jobs |")
    print("# |---|---|---|---|---|")
    for name, (bs, bj, acts, aj) in rows.items():
        print(f"# | {name} | {bs:.2f} | {bj} | {acts:.2f} | {aj} |")


if __name__ == "__main__":
    sys.exit(main())
