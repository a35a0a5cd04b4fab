"""Traced-run instrumentation: spans recorded around calls into the engine,
with Spark's job and stage metrics folded into them by time window.

Spans are kept in memory. Spark work is attributed to a span when its job
was submitted inside the span's window: the runner's rule threads do not
inherit the caller's job group, so a window is the only attribution that
sees all of it. The metrics come from the Spark driver's live status store (the
same data the Spark UI serves), read through py4j once per ``fold()``.

``cost_s`` is the tracer's own measured cost: the span bookkeeping inside
traced calls plus every ``fold()``.
"""

from __future__ import annotations

import json
import time


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self.cost_s = 0.0

    def span(self, name: str):
        return _Span(self, name)

    def time(self, name: str, fn, *args, **kwargs):
        """Run ``fn`` inside a span; returns (value, span)."""
        with self.span(name) as s:
            value = fn(*args, **kwargs)
        return value, s

    def fold(self) -> None:
        """Attach Spark job/stage totals to every span that has none yet."""
        t_start = time.perf_counter()
        jobs, stages = _status_snapshot(self.spark)
        for s in self.spans:
            if "jobs" in s:
                continue
            t0, t1 = s["t0_ms"], s["t1_ms"]
            mine = [j for j in jobs if t0 <= j.get("submissionTime", -1) <= t1]
            stage_ids = {sid for j in mine for sid in j.get("stageIds", [])}
            st = [stages[i] for i in stage_ids if i in stages]
            wall_s = max(1e-9, (t1 - t0) / 1000.0)
            run_s = sum(x["executorRunTime"] for x in st) / 1000.0
            s.update(
                jobs=len(mine),
                tasks=sum(x["numCompleteTasks"] for x in st),
                executor_run_s=run_s,
                jvm_cpu_s=sum(x["executorCpuTime"] for x in st) / 1e9,
                gc_s=sum(x["jvmGcTime"] for x in st) / 1000.0,
                shuffle_write_bytes=sum(x["shuffleWriteBytes"] for x in st),
                shuffle_read_bytes=sum(x["shuffleReadBytes"] for x in st),
                core_util=run_s / (wall_s * self.spark.sparkContext.defaultParallelism),
            )
        self.cost_s += time.perf_counter() - t_start


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer = tracer
        self.rec = {"name": name}

    def __enter__(self) -> dict:
        t = time.perf_counter()
        self.rec["t0_ms"] = time.time() * 1000.0
        self._p0 = time.perf_counter()
        self.tracer.cost_s += self._p0 - t
        return self.rec

    def __exit__(self, *exc) -> None:
        t = time.perf_counter()
        self.rec["wall_s"] = t - self._p0
        self.rec["t1_ms"] = time.time() * 1000.0
        self.tracer.spans.append(self.rec)
        self.tracer.cost_s += time.perf_counter() - t


def _status_snapshot(spark) -> tuple[list[dict], dict[int, dict]]:
    """All retained jobs, and stages keyed by id (latest attempt wins), as
    JSON decoded from the status store's own API objects."""
    sc = spark.sparkContext
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    mapper.registerModule(getattr(scala_module, "MODULE$"))
    jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
    raw = json.loads(
        mapper.writeValueAsString(
            store.stageList(None, False, False, sc._gateway.new_array(jvm.double, 0), None)
        )
    )
    stages: dict[int, dict] = {}
    for st in sorted(raw, key=lambda x: (x["stageId"], x["attemptId"])):
        stages[st["stageId"]] = st
    return jobs, stages
