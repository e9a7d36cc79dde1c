"""Spans around the calls into each layer, for the traced run.

``Tracer.install()`` wraps the public entry points of each layer from
outside the package: the defining module or class is patched, and every
already-imported module of the package that bound the same function by
name (``from ... import scoped_persist``) is re-bound. A span records
its key, wall time, parent and a Spark job group of its own; the
parent's group is restored on exit, so each Spark job belongs to the
innermost open span. After the session stops, ``metrics()`` reads the
event log and attributes jobs, stages, tasks and task metrics to spans
and, through the span tree, to every enclosing layer.

A span whose key is already open on the stack is not opened again, so
a layer's count never includes itself twice.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import re
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

PKG = "weaviate_txtai_spark"
_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
_SQL_RE = re.compile(r"^\s*select\b", re.IGNORECASE)


class Span:
    __slots__ = ("sid", "key", "parent", "detail", "s", "measured", "keys_below")

    def __init__(self, sid, key, parent, measured, detail):
        self.sid, self.key, self.parent = sid, key, parent
        self.measured, self.detail = measured, detail
        self.s = 0.0
        self.keys_below: set = set()


class Tracer:
    def __init__(self, event_dir: str):
        self.event_dir = event_dir
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.counts: dict = defaultdict(float)
        self.measuring = False

    # ------------------------------------------------------------ config

    def spark_conf(self) -> dict:
        return {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + self.event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }

    @property
    def sc(self):
        from pyspark import SparkContext

        return SparkContext._active_spark_context

    # ------------------------------------------------------------- spans

    @contextmanager
    def span(self, key: str, detail: str = ""):
        sc = self.sc
        if sc is None or any(s.key == key for s in self.stack):
            yield None
            return
        parent = self.stack[-1] if self.stack else None
        sp = Span(len(self.spans), key, parent, self.measuring, detail)
        self.spans.append(sp)
        prev = [sc.getLocalProperty(p) for p in _GROUP_PROPS]
        sc.setJobGroup(f"perfbench-{sp.sid}", key)
        self.stack.append(sp)
        t = time.perf_counter()
        try:
            yield sp
        finally:
            sp.s = time.perf_counter() - t
            self.stack.pop()
            for p, v in zip(_GROUP_PROPS, prev):
                sc.setLocalProperty(p, v)
            if parent is not None:
                parent.keys_below |= sp.keys_below | {key + ":" + sp.detail}
            if sp.measured and key in ("act", "plans.build", "cache.fill"):
                self._sample_cache(sc)

    def _sample_cache(self, sc) -> None:
        infos = sc._jsc.sc().getRDDStorageInfo()
        mb = sum(i.memSize() + i.diskSize() for i in infos) / 2**20
        self.counts["cache.peak_mb"] = max(self.counts["cache.peak_mb"], mb)

    # ---------------------------------------------------------- wrapping

    def _wrap(self, fn, key_of):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            key, detail = key_of(args, kwargs)
            with tracer.span(key, detail) as sp:
                out = fn(*args, **kwargs)
                if sp is not None and key == "index.search":
                    gemm = any(k == "operators.topk:gemm" for k in sp.keys_below)
                    sp.key = "index.search_gemm" if gemm else "index.search_expr"
                return out

        return wrapper

    def patch_function(self, module: str, name: str, key_of) -> None:
        mod = sys.modules[module]
        orig = getattr(mod, name)
        new = self._wrap(orig, key_of)
        for m in list(sys.modules.values()):
            if (
                m is not None
                and getattr(m, "__name__", "").startswith(PKG)
                and getattr(m, name, None) is orig
            ):
                setattr(m, name, new)

    def patch_method(self, cls, name: str, key_of) -> None:
        raw = cls.__dict__[name]
        if isinstance(raw, classmethod):
            setattr(cls, name, classmethod(self._wrap(raw.__func__, key_of)))
        else:
            setattr(cls, name, self._wrap(raw, key_of))

    def install(self) -> None:
        """Wrap every layer's entry points. Imports the whole package
        first so that every importer of a wrapped name is re-bound."""
        import weaviate_txtai_spark.plans.queries  # noqa: F401  (imports every family)
        from weaviate_txtai_spark import cache, ship
        from weaviate_txtai_spark.embeddings import Embeddings
        from weaviate_txtai_spark.functions.encoders import HashingEncoder
        from weaviate_txtai_spark.index import VectorIndex
        from weaviate_txtai_spark.operators import ids, kmeans, pq, topk
        from weaviate_txtai_spark.operators.ann import IVFIndex
        from weaviate_txtai_spark.operators.ivfpq import IVFPQIndex

        def fixed(key, detail=""):
            return lambda a, kw: (key, detail)

        def search_key(a, kw):
            query = a[1] if len(a) > 1 else kw.get("query", "")
            return ("embeddings.sql" if _SQL_RE.match(query) else "embeddings.search"), ""

        self.patch_method(Embeddings, "search", search_key)
        self.patch_method(Embeddings, "batchsearch", fixed("embeddings.batchsearch"))
        self.patch_method(Embeddings, "upsert", fixed("embeddings.mutation"))
        self.patch_method(Embeddings, "delete", fixed("embeddings.mutation"))
        self.patch_method(Embeddings, "index", fixed("embeddings.index"))
        self.patch_method(HashingEncoder, "encode", self._counted("encoders.encode"))
        self.patch_method(VectorIndex, "append", fixed("index.append"))
        self.patch_method(VectorIndex, "search", fixed("index.search"))
        self.patch_method(VectorIndex, "upsert", fixed("index.rewrite"))
        self.patch_method(VectorIndex, "delete", fixed("index.rewrite"))
        self.patch_function(ids.__name__, "with_dense_ids", fixed("operators.ids"))
        self.patch_function(topk.__name__, "knn_topk", fixed("operators.topk", "expr"))
        self.patch_function(topk.__name__, "knn_topk_gemm", fixed("operators.topk", "gemm"))
        self.patch_method(IVFIndex, "build", fixed("operators.ann.build"))
        self.patch_function(pq.__name__, "train_pq", fixed("operators.pq.train"))
        self.patch_method(IVFPQIndex, "build", fixed("operators.ivfpq.build"))
        self.patch_function(kmeans.__name__, "lloyd", fixed("operators.kmeans"))
        self.patch_function(kmeans.__name__, "assign_clusters", fixed("operators.kmeans"))
        self.patch_function(ship.__name__, "ensure_shipped", fixed("ship"))
        self.patch_function(cache.__name__, "scoped_persist", self._persist_key)

    def _counted(self, key):
        def key_of(a, kw):
            if self.measuring:
                self.counts[key + ".calls"] += 1
            return key, ""

        return key_of

    def _persist_key(self, a, kw):
        if self.measuring:
            self.counts["cache.persist_calls"] += 1
        if kw.get("eager"):
            if self.measuring:
                self.counts["cache.eager_fills"] += 1
            return "cache.fill", ""
        return "cache.persist", ""

    # ----------------------------------------------------------- metrics

    def _events(self, app_id: str):
        for path in glob.glob(os.path.join(self.event_dir, "*")):
            if os.path.basename(path).split(".")[0] != app_id:
                continue
            with open(path) as f:
                for line in f:
                    yield json.loads(line)

    def _job_span(self, ev) -> Span | None:
        """The measured span a JobStart event's job group names."""
        g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
        if not g.startswith("perfbench-"):
            return None
        sp = self.spans[int(g.split("-")[1])]
        return sp if sp.measured else None

    @staticmethod
    def _up(sp):
        while sp is not None:
            yield sp
            sp = sp.parent

    def jobs_per_span(self, app_id: str) -> dict[int, int]:
        """{span id: jobs started in the span or below it}."""
        out: dict[int, int] = defaultdict(int)
        for ev in self._events(app_id):
            if ev["Event"] == "SparkListenerJobStart":
                for sp in self._up(self._job_span(ev)):
                    out[sp.sid] += 1
        return out

    def metrics(self, app_id: str) -> dict:
        """Per-layer metrics of the measured phase. Call after the
        session has stopped (the event log is complete then)."""
        stage_span: dict[int, Span] = {}
        task_metrics = defaultdict(lambda: defaultdict(float))
        stages_of = defaultdict(set)
        tasks_of = defaultdict(int)
        for ev in self._events(app_id):
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                sp = self._job_span(ev)
                if sp is not None:
                    stage_span.update(dict.fromkeys(ev["Stage IDs"], sp))
            elif kind == "SparkListenerTaskEnd":
                sp = stage_span.get(ev["Stage ID"])
                if sp is None:
                    continue
                tm = ev.get("Task Metrics") or {}
                acc = task_metrics[sp.sid]
                acc["run_s"] += tm.get("Executor Run Time", 0) / 1e3
                acc["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                acc["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                sr = tm.get("Shuffle Read Metrics") or {}
                acc["shuffle_read_mb"] += (
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                ) / 2**20
                sw = tm.get("Shuffle Write Metrics") or {}
                acc["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
                stages_of[sp.sid].add(ev["Stage ID"])
                tasks_of[sp.sid] += 1

        jobs_under = defaultdict(int)
        for sid, n in self.jobs_per_span(app_id).items():
            jobs_under[self.spans[sid].key] += n
        work_under = defaultdict(lambda: defaultdict(float))
        for sid, acc in task_metrics.items():
            for sp in self._up(self.spans[sid]):
                for name, v in acc.items():
                    work_under[sp.key][name] += v
        time_of = defaultdict(float)
        for sp in self.spans:
            if sp.measured or sp.key == "ship":
                time_of[sp.key] += sp.s
        c = self.counts
        m = {
            "embeddings.search.jobs": jobs_under["embeddings.search"],
            "embeddings.batchsearch.jobs": jobs_under["embeddings.batchsearch"],
            "embeddings.batchsearch.shuffle_mb": work_under["embeddings.batchsearch"]["shuffle_write_mb"],
            "embeddings.sql.jobs": jobs_under["embeddings.sql"],
            "embeddings.mutation.jobs": jobs_under["embeddings.mutation"],
            "encoders.encode.calls": c["encoders.encode.calls"],
            "encoders.encode.s": time_of["encoders.encode"],
            "index.append.s": time_of["index.append"],
            "index.append.jobs": jobs_under["index.append"],
            "index.search_expr.s": time_of["index.search_expr"],
            "index.search_gemm.s": time_of["index.search_gemm"],
            "index.rewrite.s": time_of["index.rewrite"],
            "index.rewrite.jobs": jobs_under["index.rewrite"],
            "operators.ids.jobs": jobs_under["operators.ids"],
            "operators.topk.s": time_of["operators.topk"],
            "operators.topk.jobs": jobs_under["operators.topk"],
            "operators.ann.build_s": time_of["operators.ann.build"],
            "operators.ann.build_jobs": jobs_under["operators.ann.build"],
            "operators.pq.train_s": time_of["operators.pq.train"],
            "operators.pq.train_jobs": jobs_under["operators.pq.train"],
            "operators.ivfpq.build_s": time_of["operators.ivfpq.build"],
            "operators.ivfpq.build_jobs": jobs_under["operators.ivfpq.build"],
            "operators.kmeans.s": time_of["operators.kmeans"],
            "plans.build_s": time_of["plans.build"],
            "plans.build_jobs": jobs_under["plans.build"],
            "cache.persist_calls": c["cache.persist_calls"],
            "cache.eager_fills": c["cache.eager_fills"],
            "cache.fill_s": time_of["cache.fill"],
            "cache.peak_mb": c["cache.peak_mb"],
            "spark.act_s": time_of["act"],
            "spark.act_jobs": jobs_under["act"],
            "spark.jobs": jobs_under["measure"],
            "spark.stages": sum(len(stages_of[sp.sid]) for sp in self.spans),
            "spark.tasks": sum(tasks_of.values()),
            "spark.executor_run_s": work_under["measure"]["run_s"],
            "spark.executor_cpu_s": work_under["measure"]["cpu_s"],
            "spark.jvm_gc_s": work_under["measure"]["gc_s"],
            "spark.shuffle_write_mb": work_under["measure"]["shuffle_write_mb"],
            "spark.shuffle_read_mb": work_under["measure"]["shuffle_read_mb"],
            "ship.s": time_of["ship"],
        }
        return m

