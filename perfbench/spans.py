"""Tracing for the benchmark's traced runs.

Spans are recorded from the benchmark's own files: ``Tracer.patch`` wraps
the public functions the pipeline calls (``read_csv_raw``,
``first_occurrence_dedup``, ``clean_name``, ``write_table``,
``similar_products``, and the ``OrdersEtl`` stage methods) for the length
of a ``with`` block, so no engine file changes. Each span runs under its
own Spark job group; the jobs and tasks it launched are read back from
``statusTracker``, and its shuffle and spill bytes from the event log
once the session has stopped.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import time

JOB_GROUP = "spark.jobGroup.id"


class Tracer:
    """In-memory spans: name, start, end, parent, batch id, job group."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.batch: int | str | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        sc = self.spark.sparkContext
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "batch": self.batch,
            "group": f"pb-{os.getpid()}-{sid}",
        }
        self.spans.append(rec)
        outer = sc.getLocalProperty(JOB_GROUP)
        sc.setLocalProperty(JOB_GROUP, rec["group"])
        self._stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            sc.setLocalProperty(JOB_GROUP, outer)
            self._count_jobs(rec)

    def _count_jobs(self, rec: dict) -> None:
        tracker = self.spark.sparkContext.statusTracker()
        jobs = tracker.getJobIdsForGroup(rec["group"])
        tasks = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            for s in info.stageIds if info else ():
                stage = tracker.getStageInfo(s)
                tasks += stage.numCompletedTasks if stage else 0
        rec["jobs"], rec["tasks"] = len(jobs), tasks

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    @contextlib.contextmanager
    def patch(self):
        """Wrap the pipeline's public calls in spans for the block."""
        from etl_orders_to_bq_spark.pipeline import orders_pipeline as op

        saved = []

        def swap(owner, attr, name):
            saved.append((owner, attr, getattr(owner, attr)))
            setattr(owner, attr, self.wrap(getattr(owner, attr), name))

        for attr, name in [
            ("read_csv_raw", "sources.csv.read_csv_raw"),
            ("first_occurrence_dedup", "operators.dedup.first_occurrence_dedup"),
            ("clean_name", "functions.names.clean_name"),
            ("write_table", "sinks.writers.write_table"),
            ("similar_products", "operators.similarity.similar_products"),
        ]:
            swap(op, attr, name)
        for attr in [
            "process",
            "cast_orders",
            "clean_names",
            "join_frames",
            "write",
            "find_similar_products",
        ]:
            swap(op.OrdersEtl, attr, f"pipeline.orders_pipeline.{attr}")
        try:
            yield self
        finally:
            for owner, attr, fn in reversed(saved):
                setattr(owner, attr, fn)

    def export(self, t0: float, totals: dict[str, dict[str, int]]) -> list[dict]:
        """Spans with times relative to ``t0``, self time (the duration
        minus what child spans cover), and counters that include child
        spans: jobs, tasks, and the event log's shuffle and spill bytes
        (``totals``, per job group)."""
        out = []
        for s in self.spans:
            own = totals.get(s["group"], {})
            out.append(
                {
                    **{k: s[k] for k in ("id", "name", "parent", "batch", "jobs", "tasks")},
                    "start_s": s["start"] - t0,
                    "end_s": s["end"] - t0,
                    "self_s": s["end"] - s["start"],
                    "shuffle_bytes": own.get("shuffle_bytes", 0),
                    "spill_bytes": own.get("spill_bytes", 0),
                }
            )
        for s in reversed(out):  # a child span has a larger id than its parent
            if s["parent"] is not None:
                parent = out[s["parent"]]
                parent["self_s"] -= s["end_s"] - s["start_s"]
                for k in ("jobs", "tasks", "shuffle_bytes", "spill_bytes"):
                    parent[k] += s[k]
        return out


def event_log_totals(log_dir: str) -> dict[str, dict[str, int]]:
    """Per job group: shuffle bytes written and bytes spilled (memory
    plus disk), summed over the tasks of the group's jobs. Read after
    the session has stopped, when the log is complete."""
    stage_group: dict[int, str] = {}
    totals: dict[str, dict[str, int]] = {}
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(JOB_GROUP)
                    for s in ev.get("Stage IDs", []):
                        stage_group[s] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics") or {}
                    t = totals.setdefault(group, {"shuffle_bytes": 0, "spill_bytes": 0})
                    t["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    t["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    return totals


def plan_nodes(plan):
    """Every node of an executed physical plan, through adaptive and
    query-stage wrappers."""
    name = plan.getClass().getSimpleName()
    yield plan
    if name == "AdaptiveSparkPlanExec":
        yield from plan_nodes(plan.executedPlan())
        return
    if name.endswith("QueryStageExec"):
        yield from plan_nodes(plan.plan())
        return
    children = plan.children()
    for i in range(children.size()):
        yield from plan_nodes(children.apply(i))


def join_output_rows(df) -> int:
    """Rows out of the join nodes of ``df``'s executed plan (the rows the
    similarity projection scores), read after ``df`` was collected."""
    rows = 0
    for node in plan_nodes(df._jdf.queryExecution().executedPlan()):
        if "Join" in node.getClass().getSimpleName():
            metric = node.metrics().get("numOutputRows")
            if metric.isDefined():
                rows = max(rows, int(metric.get().value()))
    return rows
