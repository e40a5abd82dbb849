"""Spans around calls into each layer, and Spark's own event log.

A ``Tracer`` keeps spans (name, start, end, parent, run id) in memory
and writes them as JSON lines when the run ends. Each span also sets the
Spark job group to its name, so the event log can attribute jobs,
tasks and executor time to the span that launched them.
"""

from __future__ import annotations

import glob
import json
import statistics
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark, run_id: str) -> None:
        self.spark = spark
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "parent": parent, "run_id": self.run_id}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        sc.setJobGroup(name, name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            outer = self.spans[self._stack[-1]]["name"] if self._stack else None
            if outer is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                sc.setJobGroup(outer, outer)

    def self_s(self, name: str) -> float:
        """Summed self time of the spans called ``name``: each span's
        duration minus the durations of its direct children."""
        total = 0.0
        for i, s in enumerate(self.spans):
            if s["name"] != name:
                continue
            kids = sum(
                c["end"] - c["start"] for c in self.spans if c["parent"] == i
            )
            total += s["end"] - s["start"] - kids
        return total

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, **s}) + "\n")


def force(tracer: Tracer, name: str, df, *aggs) -> dict:
    """Run ``df`` to a ``noop`` sink inside span ``name``; return the
    row count plus any extra aggregates, observed on that same pass."""
    import pyspark.sql.functions as F
    from pyspark.sql import Observation

    obs = Observation(name)
    observed = df.observe(obs, F.count(F.lit(1)).alias("rows"), *aggs)
    with tracer.span(name):
        observed.write.format("noop").mode("overwrite").save()
    return {k: (v if v is not None else 0) for k, v in obs.get.items()}


def spark_metrics(eventlog_dir: str, group: str) -> dict[str, float]:
    """Engine totals over the jobs launched under job group ``group``,
    from the event log of a stopped SparkContext. ``task_skew`` is the
    largest max/median task duration over stages with 2+ tasks."""
    job_stages: set[int] = set()
    jobs = 0
    tasks: list[dict] = []
    for path in glob.glob(f"{eventlog_dir}/**/events_*", recursive=True):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    if props.get("spark.jobGroup.id") == group:
                        jobs += 1
                        job_stages.update(ev.get("Stage IDs", []))
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(ev)
    mine = [t for t in tasks if t.get("Stage ID") in job_stages]
    run_ms = cpu_ns = gc_ms = shuffle_b = spill_b = 0
    by_stage: dict[int, list[int]] = {}
    for t in mine:
        m = t.get("Task Metrics") or {}
        info = t.get("Task Info") or {}
        run_ms += m.get("Executor Run Time", 0)
        cpu_ns += m.get("Executor CPU Time", 0)
        gc_ms += m.get("JVM GC Time", 0)
        shuffle_b += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        spill_b += m.get("Disk Bytes Spilled", 0)
        by_stage.setdefault(t["Stage ID"], []).append(
            info.get("Finish Time", 0) - info.get("Launch Time", 0)
        )
    skew = max(
        (
            max(d) / max(statistics.median(d), 1)
            for d in by_stage.values() if len(d) >= 2
        ),
        default=1.0,
    )
    return {
        "spark.jobs": jobs,
        "spark.tasks": len(mine),
        "spark.executor_run_s": run_ms / 1e3,
        "spark.executor_cpu_s": cpu_ns / 1e9,
        "spark.jvm_gc_s": gc_ms / 1e3,
        "spark.shuffle_write_mb": shuffle_b / 1e6,
        "spark.spill_mb": spill_b / 1e6,
        "spark.task_skew": skew,
    }
