"""Span tracer for the benchmark's traced run.

A span wraps one call the benchmark makes into a layer of the engine. It
records name, start, end, parent, workload, iteration and seed, plus the
Spark stage counters of every stage that ran inside it, read from the
Spark REST status API of the live application. Spans stay in memory and
are written out once, when the run ends.

With tracing off the tracer only keeps wall times: no REST calls, no UI.
"""

from __future__ import annotations

import json
import re
import time
import urllib.request
from contextlib import contextmanager

# stage-level REST fields summed per span -> (span counter, scale to SI)
STAGE_COUNTERS = {
    "executorRunTime": ("busy_s", 1e-3),
    "executorCpuTime": ("cpu_s", 1e-9),
    "jvmGcTime": ("gc_s", 1e-3),
    "shuffleFetchWaitTime": ("fetch_wait_s", 1e-3),
    "shuffleReadBytes": ("shuffle_read_bytes", 1),
    "shuffleWriteBytes": ("shuffle_write_bytes", 1),
    "memoryBytesSpilled": ("spill_bytes", 1),
    "diskBytesSpilled": ("spill_bytes", 1),
    "numFailedTasks": ("failed_tasks", 1),
    "inputBytes": ("input_bytes", 1),
    "outputBytes": ("output_bytes", 1),
}


class Span:
    __slots__ = ("name", "parent", "start", "end", "attrs", "spark", "sql", "_marks")

    def __init__(self, name: str, parent: str | None, attrs: dict):
        self.name = name
        self.parent = parent
        self.attrs = attrs
        self.start = self.end = 0.0
        self.spark: dict = {}
        self.sql: list = []
        self._marks = (-1, -1)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool, workload: str, seed: int):
        self.enabled = enabled
        self.workload = workload
        self.seed = seed
        self.iteration: int | None = None
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._spark = None

    def attach(self, spark) -> None:
        """Point the tracer at a (new) Spark session."""
        self._spark = spark

    # -- REST helpers -------------------------------------------------------

    def _get(self, path: str):
        sc = self._spark.sparkContext
        url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{path}"
        with urllib.request.urlopen(url, timeout=30) as r:
            return json.loads(r.read())

    def _flush_listeners(self) -> None:
        # the status store is fed asynchronously: wait until the listener
        # bus has delivered every event of the action that just returned
        try:
            self._spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        except Exception:
            time.sleep(0.25)

    def _marks(self) -> tuple[int, int]:
        self._flush_listeners()
        stages = self._get("stages?details=false")
        sqls = self._get("sql?details=false&length=1000000")
        return (
            max((s["stageId"] for s in stages), default=-1),
            max((e["id"] for e in sqls), default=-1),
        )

    def _collect(self, span: Span, want_sql: bool) -> None:
        self._flush_listeners()
        stage_mark, sql_mark = span._marks
        counters = {"stages": 0, "tasks": 0}
        for c, _ in STAGE_COUNTERS.values():
            counters[c] = 0
        for s in self._get("stages?details=false"):
            if s["stageId"] <= stage_mark or s["status"] == "SKIPPED":
                continue
            counters["stages"] += 1
            counters["tasks"] += s["numCompleteTasks"] + s["numFailedTasks"]
            for field, (c, scale) in STAGE_COUNTERS.items():
                counters[c] += s.get(field, 0) * scale
        span.spark = counters
        if want_sql:
            span.sql = [
                e
                for e in self._get("sql?details=true&planDescription=false&length=1000000")
                if e["id"] > sql_mark
            ]

    # -- spans ------------------------------------------------------------

    @contextmanager
    def span(self, name: str, sql: bool = False, **attrs):
        """Time a block; in traced mode also attribute Spark stages (and,
        with ``sql=True``, the executed SQL plans) that ran inside it."""
        parent = self._stack[-1].name if self._stack else None
        s = Span(name, parent, attrs)
        if self.enabled:
            s._marks = self._marks()
            self._stack.append(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            if self.enabled:
                self._stack.pop()
                self._collect(s, sql)
                s.attrs.setdefault("iteration", self.iteration)
                self.spans.append(s)

    def dump(self, path: str, extra: dict) -> None:
        out = {
            "workload": self.workload,
            "seed": self.seed,
            **extra,
            "spans": [
                {
                    "name": s.name,
                    "parent": s.parent,
                    "start": s.start,
                    "end": s.end,
                    "dur_s": s.dur,
                    "workload": self.workload,
                    "seed": self.seed,
                    **s.attrs,
                    "spark": s.spark,
                }
                for s in self.spans
            ],
        }
        with open(path, "w") as fh:
            json.dump(out, fh, indent=1)


# -- executed-plan SQL metrics ----------------------------------------------

_NUM = re.compile(r"-?[\d,]+")


def metric(node: dict, name: str) -> int | None:
    for m in node.get("metrics", []):
        if m["name"] == name:
            hit = _NUM.search(str(m["value"]))
            return int(hit.group().replace(",", "")) if hit else None
    return None


_SIZE = re.compile(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)\b")
_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def size_metric(node: dict, name: str) -> float | None:
    """A size SQL metric ("12.3 MiB") in bytes."""
    for m in node.get("metrics", []):
        if m["name"] == name:
            hit = _SIZE.search(str(m["value"]))
            return float(hit.group(1).replace(",", "")) * _UNITS[hit.group(2)] if hit else None
    return None


def children(execution: dict, node_id: int) -> list[dict]:
    """Child nodes (inputs) of a plan node: REST edges run child -> parent."""
    by_id = {n["nodeId"]: n for n in execution["nodes"]}
    return [by_id[e["fromId"]] for e in execution["edges"] if e["toId"] == node_id]


def rows_into(execution: dict, node: dict, skip: tuple = ()) -> int | None:
    """Rows a node consumed: walk down each input through nodes without a
    row counter (Project, codegen wrappers) to the first that has one.
    Inputs whose node name starts with a prefix in ``skip`` (e.g. the build
    side of a broadcast join) are not counted."""
    total, found = 0, False
    for child in children(execution, node["nodeId"]):
        if child["nodeName"].startswith(skip):
            continue
        n = child
        while True:
            v = metric(n, "number of output rows")
            if v is not None:
                total += v
                found = True
                break
            kids = children(execution, n["nodeId"])
            if not kids:
                break
            n = kids[0]
    return total if found else None


def nodes_named(executions: list[dict], prefix: str):
    for e in executions:
        for n in e["nodes"]:
            if n["nodeName"].startswith(prefix):
                yield e, n
