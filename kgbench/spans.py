"""Spans from the benchmark's side around calls into the program's layers.

A span records its name, parent, thread and start/end.  Spark jobs are
attributed to spans through the job group, a thread-local Spark property:
opening a span sets a group unique to the span on the current thread, so
every job that thread submits inside it carries the span's id.  A span's
job counts are exclusive: a job belongs to the innermost span open on the
thread that submitted it.

Per-job and per-stage numbers come from the driver's status store
(``sc._jsc.sc().statusStore()``), which works with ``spark.ui.enabled``
off.  It is read once after each traced operation, outside the timed
interval, as JSON through the JVM's own Jackson mapper (two round trips
instead of several per stage).
"""

from __future__ import annotations

import itertools
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

from thesaurus_based_ner_spark.sources.catalog import Catalog

_GROUP = "spark.jobGroup.id"
MB = 2**20


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.enabled = enabled
        # spans open only while active: the runner turns it on for traced ops
        self.active = False
        self.spans: list[dict] = []
        self.ops: list[dict] = []  # per traced op: span ids, jobs, stages
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()
        # parent for spans opened on a thread that has no open span yet
        # (a pool thread inside run_pipeline)
        self.thread_root: int | None = None
        self._last_job = -1
        if enabled:
            jvm = spark._jvm
            self._store = self.sc._jsc.sc().statusStore()
            self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
            self._json.registerModule(
                jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule()
            )
            self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)

    @contextmanager
    def span(self, name: str, thread_root: bool = False):
        """Open a span on the calling thread; yields a dict for extras."""
        if not self.active:
            yield {}
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else self.thread_root
        sp = {
            "id": next(self._ids), "name": name, "parent": parent,
            "thread": threading.get_ident(), "t0": time.perf_counter(),
        }
        with self._lock:
            self.spans.append(sp)
        if thread_root:
            prev_root, self.thread_root = self.thread_root, sp["id"]
        prev_group = self.sc.getLocalProperty(_GROUP)
        self.sc.setLocalProperty(_GROUP, f"kgbench-span-{sp['id']}")
        stack.append(sp["id"])
        try:
            yield sp
        finally:
            stack.pop()
            self.sc.setLocalProperty(_GROUP, prev_group)
            sp["t1"] = time.perf_counter()
            if thread_root:
                self.thread_root = prev_root

    def sync(self) -> None:
        """Mark every job submitted so far as belonging to no traced op."""
        if self.enabled:
            jobs = json.loads(self._json.writeValueAsString(self._store.jobsList(None)))
            self._last_job = max([self._last_job] + [j["jobId"] for j in jobs])

    def collect_op(self, op_span: dict, wall_s: float) -> dict:
        """Attribute the jobs and stages submitted since the last call."""
        jobs = json.loads(self._json.writeValueAsString(self._store.jobsList(None)))
        jobs = [j for j in jobs if j["jobId"] > self._last_job]
        self._last_job = max([self._last_job] + [j["jobId"] for j in jobs])
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = json.loads(self._json.writeValueAsString(
            self._store.stageList(None, False, False, self._no_quantiles, None)
        ))
        stages = [s for s in stages if s["stageId"] in stage_ids]
        first_job = {}  # a stage belongs to the first job that lists it
        for j in sorted(jobs, key=lambda j: j["jobId"]):
            for s in j["stageIds"]:
                first_job.setdefault(s, j)
        op = {
            "span": op_span["id"], "wall_s": wall_s,
            "jobs": jobs, "stages": stages, "stage_job": {
                s: first_job[s]["jobId"] for s in first_job
            },
        }
        self.ops.append(op)
        return op

    # -- aggregation -------------------------------------------------------

    def _children(self) -> dict[int | None, list[dict]]:
        out: dict[int | None, list[dict]] = {}
        for sp in self.spans:
            out.setdefault(sp["parent"], []).append(sp)
        return out

    def _subtree(self, root: int) -> set[int]:
        kids = self._children()
        out, todo = set(), [root]
        while todo:
            sid = todo.pop()
            out.add(sid)
            todo.extend(c["id"] for c in kids.get(sid, ()))
        return out

    @staticmethod
    def _union_s(intervals: list[tuple[float, float]]) -> float:
        total, end = 0.0, float("-inf")
        for a, b in sorted(intervals):
            if b > end:
                total += b - max(a, end)
                end = b
        return total

    def self_s(self, sp: dict) -> float:
        """Duration minus the part of it that child spans cover."""
        kids = [
            (max(c["t0"], sp["t0"]), min(c["t1"], sp["t1"]))
            for c in self._children().get(sp["id"], ())
        ]
        return (sp["t1"] - sp["t0"]) - self._union_s([k for k in kids if k[1] > k[0]])

    def op_stats(self, op: dict) -> dict:
        """Per-span and whole-op numbers for one traced op."""
        spans = {sp["id"]: sp for sp in self.spans}
        mine = self._subtree(op["span"])
        group_of = {f"kgbench-span-{sid}": sid for sid in mine}
        per_span: dict[int, dict] = {
            sid: {"jobs": 0, "stages": 0, "tasks": 0, "run_s": 0.0, "gc_s": 0.0,
                  "shuffle_write_mb": 0.0, "spill_mb": 0.0, "bytes_written_mb": 0.0}
            for sid in mine
        }
        unattributed = 0
        job_span: dict[int, int] = {}
        for j in op["jobs"]:
            sid = group_of.get(j.get("jobGroup"))
            if sid is None:
                unattributed += 1
                continue
            job_span[j["jobId"]] = sid
            per_span[sid]["jobs"] += 1
        total = {"jobs": len(op["jobs"]), "stages": 0, "tasks": 0, "run_s": 0.0,
                 "gc_s": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0}
        for s in op["stages"]:
            if s["status"] != "COMPLETE":
                continue
            vals = {
                "stages": 1, "tasks": s["numCompleteTasks"],
                "run_s": s["executorRunTime"] / 1000,
                "gc_s": s["jvmGcTime"] / 1000,
                "shuffle_write_mb": s["shuffleWriteBytes"] / MB,
                "spill_mb": (s["memoryBytesSpilled"] + s["diskBytesSpilled"]) / MB,
            }
            for k, v in vals.items():
                total[k] += v
            sid = job_span.get(op["stage_job"].get(s["stageId"]))
            if sid is not None:
                for k, v in vals.items():
                    per_span[sid][k] += v
                per_span[sid]["bytes_written_mb"] += s["outputBytes"] / MB
        for sid, st in per_span.items():
            sp = spans[sid]
            st.update({k: v for k, v in sp.items() if k not in st})
            st.update(s=sp["t1"] - sp["t0"], self_s=self.self_s(sp))
        total["unattributed_jobs"] = unattributed
        return {"spans": per_span, "total": total, "wall_s": op["wall_s"]}

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "ops": [
                {k: v for k, v in op.items() if k != "stages"} for op in self.ops
            ]}, f)


def median_by_name(op_stats: list[dict], prefix: str, field: str) -> dict[str, float]:
    """{span name: median over ops of the per-op sum of field}."""
    per_op: list[dict[str, float]] = []
    for st in op_stats:
        sums: dict[str, float] = {}
        for sp in st["spans"].values():
            if sp["name"].startswith(prefix):
                sums[sp["name"]] = sums.get(sp["name"], 0.0) + sp[field]
        per_op.append(sums)
    names = {n for d in per_op for n in d}
    return {n: statistics.median(d.get(n, 0.0) for d in per_op) for n in names}


class TracedCatalog(Catalog):
    """Catalog whose stage materializations open a span on the calling
    thread, so jobs that run_pipeline submits from its pool thread are
    attributed to their stage."""

    def __init__(self, spark, root: str, tracer: Tracer):
        super().__init__(spark, root)
        self.tracer = tracer

    def materialize(self, name, build_fn, fingerprint="", partition_by=None, stage=""):
        with self.tracer.span(f"sources.catalog.write.{stage or name}") as sp:
            out = super().materialize(name, build_fn, fingerprint, partition_by, stage)
            sp["files"] = sum(
                f.endswith(".parquet")
                for _, _, files in os.walk(self.path(name)) for f in files
            )
        return out
