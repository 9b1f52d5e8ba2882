"""Traced runs: spans around the benchmark's calls into each layer,
Spark status-tracker counts per job group and py4j calls counted at
the client.

A span is (name, start, end, parent, request).  Spans stay in memory
and are written once, when the run ends.  With tracing off every hook
is a no-op, so the untraced run measures the program alone; the
difference between a traced and an untraced run is the tracing
overhead.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict
from pathlib import Path

#: Span name prefix -> layer, longest prefix first.
LAYERS = ("ext.similarity", "ext.pipeline", "ext.dedup", "ext.text",
          "session", "sources", "relational", "generic", "indexer",
          "base", "core", "spark")

#: Spans of lazy verbs: jobs they start count as eager.
BUILD_SPANS = frozenset({"sources.read_parquet", "core.build",
                         "relational.build", "base.align_build",
                         "generic.head", "core.from_pandas"})

_NULL = contextlib.nullcontext()


def layer_of(name: str) -> str:
    for layer in LAYERS:
        if name == layer or name.startswith(layer + "."):
            return layer
    return "bench"


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.request = None
        self.py4j_calls = 0
        self._count_py4j = False
        self._client = None
        self._spark = None
        self._group = None

    def span(self, name: str):
        return self._span(name) if self.enabled else _NULL

    @contextlib.contextmanager
    def _span(self, name: str):
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "request": self.request}
        build = (self._group is not None and not self._stack
                 and name in BUILD_SPANS)
        if build:
            self._set_group(f"{self._group}.build")
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if build:
                self._set_group(self._group)

    # py4j ----------------------------------------------------------------

    def hook_py4j(self, spark) -> None:
        """Count commands sent by the py4j client while an op runs
        (object-release commands excluded: they follow garbage
        collection, not the program's requests)."""
        if not self.enabled:
            return
        client = spark.sparkContext._gateway._gateway_client
        if self._client is client:
            return
        self._client = client
        send = client.send_command

        def counting(command, *args, **kwargs):
            if self._count_py4j and not command.startswith("m\nd\n"):
                self.py4j_calls += 1
            return send(command, *args, **kwargs)

        client.send_command = counting

    @contextlib.contextmanager
    def op(self, spark, group: str):
        """Scope one op: its Spark job groups (``group`` and, for lazy
        verbs, ``group.build``) and py4j counting."""
        if not self.enabled:
            yield
            return
        self._spark = spark
        self._group = group
        self._set_group(group)
        try:
            yield
        finally:
            self._group = None
            self._count_py4j = False
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    def _set_group(self, group: str) -> None:
        self._count_py4j = False
        self._spark.sparkContext.setJobGroup(group, group)
        self._count_py4j = True

    # reports -------------------------------------------------------------

    def durations(self) -> dict[str, list[float]]:
        """Span seconds by name."""
        out: dict[str, list[float]] = defaultdict(list)
        for s in self.spans:
            out[s["name"]].append(s["end"] - s["start"])
        return out

    def self_times(self) -> dict[str, float]:
        """Seconds per layer, over the measured requests, outside the
        layer's child spans."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            if s["request"] is not None:
                out[layer_of(s["name"])] += (s["end"] - s["start"]
                                             - child[i])
        return out

    def write(self, path: Path) -> None:
        if self.enabled:
            path.write_text(json.dumps(self.spans))


def wait_listeners(spark) -> None:
    """Let the listener bus deliver every event, so the status tracker
    holds final counts."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def group_counts(spark, group: str) -> dict[str, int]:
    """Jobs, executed stages, completed and failed tasks of a job group."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stage_ids = set()
    for j in jobs:
        info = st.getJobInfo(j)
        stage_ids.update(info.stageIds if info else [])
    stages = tasks = failed = 0
    for sid in sorted(stage_ids):
        si = st.getStageInfo(sid)
        if si is None or si.numCompletedTasks + si.numFailedTasks == 0:
            continue  # skipped: its shuffle output was reused
        stages += 1
        tasks += si.numCompletedTasks
        failed += si.numFailedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks,
            "failed_tasks": failed}


def cached_frames(spark) -> int:
    return len(spark.sparkContext._jsc.getPersistentRDDs())
