"""Spans around calls into the engine's layers, plus Spark's own counters.

A span records name, start, end, parent and request id. While tracing
is on, each span runs its Spark work under a job group of its own, so
the jobs, stages and tasks it started can be read back from the status
tracker, and the SQL node metrics of every execution those jobs belong
to can be read from the SQL status store (which works with the UI
disabled). Spans stay in memory; the Spark side is resolved once, after
the timed loop, so the loop pays only for the job-group switches.

SQL metric values come from the live ``SQLMetric`` accumulators when
the Spark driver still holds them (raw longs: bytes, counts, ms or ns); only
metrics whose accumulator is gone fall back to parsing the formatted
string the status store keeps (``parse_metric``).
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# ------------------------------------------------- formatted-string parser

_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40, "PiB": 1 << 50}
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_NUM = r"(-?[0-9][0-9,]*(?:\.[0-9]+)?)"


def parse_metric(text: str, metric_type: str) -> float:
    """Value of one formatted SQL metric, in base units: bytes for
    ``size``, seconds for ``timing``/``nsTiming``, a plain number
    otherwise. Multi-task metrics read ``total (min, med, max ...)\\n<total>
    (<min>, <med>, <max> ...)``; the total is the first value on the
    second line."""
    text = text.strip()
    if text.startswith("total"):
        text = text.split("\n", 1)[1]
    if metric_type == "size":
        m = re.match(_NUM + r"\s*(B|KiB|MiB|GiB|TiB|PiB)\b", text)
        if not m:
            raise ValueError(f"unparsed size metric {text!r}")
        return float(m.group(1).replace(",", "")) * _SIZE_UNITS[m.group(2)]
    if metric_type in ("timing", "nsTiming"):
        m = re.match(_NUM + r"\s*(ms|s|m|h)\b", text)
        if not m:
            raise ValueError(f"unparsed timing metric {text!r}")
        return float(m.group(1).replace(",", "")) * _TIME_UNITS[m.group(2)]
    m = re.match(_NUM, text)
    if not m:
        raise ValueError(f"unparsed metric {text!r}")
    return float(m.group(1).replace(",", ""))


def raw_to_base(value: int, metric_type: str) -> float:
    """Raw accumulator value in the same base units as ``parse_metric``."""
    if metric_type == "timing":
        return value / 1e3
    if metric_type == "nsTiming":
        return value / 1e9
    return float(value)


# -------------------------------------------------------------- spans


@dataclass
class Span:
    name: str
    request: int | None
    parent: int | None
    start: float
    end: float = 0.0
    group: str | None = None
    jobs: list[int] = field(default_factory=list)
    stages: int = 0
    tasks: int = 0
    sql: dict = field(default_factory=dict)  # "<node kind>:<metric>" -> value

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder. Disabled, ``span`` only times nothing and sets no
    job group, so the untraced run measures the program alone."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._request: int | None = None

    @contextmanager
    def request(self, request_id: int, name: str = "request"):
        self._request = request_id
        try:
            with self.span(name) as s:
                yield s
        finally:
            self._request = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(name, self._request, parent, time.perf_counter(), group=f"pb{idx}")
        self.spans.append(s)
        self._stack.append(idx)
        sc.setLocalProperty("spark.jobGroup.id", s.group)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            back = self.spans[self._stack[-1]].group if self._stack else None
            sc.setLocalProperty("spark.jobGroup.id", back)

    # ---------------------------------------------------- Spark resolve

    def resolve(self, spans: list[Span] | None = None) -> None:
        """Fill jobs/stages/tasks and SQL node metrics of ``spans`` (all
        by default) from the status tracker and SQL status store."""
        if not self.enabled:
            return
        spans = self.spans if spans is None else spans
        sc = self.spark.sparkContext
        st = sc.statusTracker()
        job_exec = self._job_to_execution()
        exec_cache: dict[int, dict] = {}
        for s in spans:
            s.jobs = sorted(st.getJobIdsForGroup(s.group))
            stage_ids = set()
            for j in s.jobs:
                info = st.getJobInfo(j)
                if info is not None:
                    stage_ids.update(info.stageIds)
            s.stages = len(stage_ids)
            s.tasks = 0
            for sid in stage_ids:
                si = st.getStageInfo(sid)
                if si is not None:
                    s.tasks += si.numTasks
            agg: dict[str, float] = {}
            for eid in sorted({job_exec[j] for j in s.jobs if j in job_exec}):
                if eid not in exec_cache:
                    exec_cache[eid] = self._execution_metrics(eid)
                for k, v in exec_cache[eid].items():
                    agg[k] = agg.get(k, 0.0) + v
            s.sql = agg

    def _job_to_execution(self) -> dict[int, int]:
        store = self.spark._jsparkSession.sharedState().statusStore()
        out = {}
        it = store.executionsList().iterator()
        while it.hasNext():
            e = it.next()
            ki = e.jobs().keySet().iterator()
            while ki.hasNext():
                out[int(ki.next())] = int(e.executionId())
        return out

    def _execution_metrics(self, eid: int) -> dict[str, float]:
        """Node metrics of one SQL execution summed by "<kind>:<metric>",
        where kind is "python" for nodes that talk to Python workers,
        "write" for file-write nodes and "node" otherwise; also
        "python[<udf>]:<metric>" per function named in a Python node's
        description, and "max:<metric>" for the largest single-node
        value."""
        jvm = self.spark.sparkContext._jvm
        store = self.spark._jsparkSession.sharedState().statusStore()
        formatted = store.executionMetrics(eid)
        acc_ctx = jvm.org.apache.spark.util.AccumulatorContext
        out: dict[str, float] = {}
        nodes = store.planGraph(eid).allNodes().iterator()
        while nodes.hasNext():
            node = nodes.next()
            vals = {}
            ms = node.metrics().iterator()
            while ms.hasNext():
                m = ms.next()
                name = m.name()
                if name not in WANTED:
                    continue
                acc = m.accumulatorId()
                live = acc_ctx.get(acc)
                if live.isDefined():
                    vals[name] = raw_to_base(int(live.get().value()), m.metricType())
                else:
                    txt = formatted.get(acc)
                    if txt.isDefined():
                        vals[name] = parse_metric(txt.get(), m.metricType())
            if not vals:
                continue
            if PY_SENT in vals:
                kind = "python"
                for udf in set(re.findall(r"([A-Za-z_]\w*)\(", node.desc())):
                    for k, v in vals.items():
                        out[f"python[{udf}]:{k}"] = out.get(f"python[{udf}]:{k}", 0.0) + v
            elif WRITTEN_FILES in vals:
                kind = "write"
            else:
                kind = "node"
            for k, v in vals.items():
                out[f"{kind}:{k}"] = out.get(f"{kind}:{k}", 0.0) + v
                out[f"max:{k}"] = max(out.get(f"max:{k}", 0.0), v)
        return out


PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
PY_TIME = "time to run Python workers"  # absent in some Spark builds
ROWS = "number of output rows"
WRITTEN_FILES = "number of written files"
WRITTEN_BYTES = "written output"
SHUFFLE_WRITTEN = "shuffle bytes written"
SPILL = "spill size"
PEAK_MEM = "peak memory"
WANTED = {PY_SENT, PY_RETURNED, PY_TIME, ROWS, WRITTEN_FILES, WRITTEN_BYTES, SHUFFLE_WRITTEN, SPILL, PEAK_MEM}


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span index -> duration minus the part its direct children cover
    (children of one span never overlap: a single driver thread)."""
    child = {i: 0.0 for i in range(len(spans))}
    for s in spans:
        if s.parent is not None:
            child[s.parent] += s.dur
    return {i: s.dur - child[i] for i, s in enumerate(spans)}
