"""Spans recorded around calls into the program, and Spark's own
status stores read back per job group.

A span records name, start, end, parent, thread and job group.  While
a span that names a group is open, every Spark job its thread submits
carries that group (``spark.jobGroup.id`` is a per-thread local
property), so the status stores can be split by stage afterwards:

* the SQL store (``sharedState().statusStore()``) gives, per plan
  node, Python-worker start/init/run time and bytes across the Arrow
  boundary;
* the core store gives, per stage, records and bytes written, shuffle
  bytes, spill and every task's duration.

Both stores stay live with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import itertools
import re
import threading
import time

from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession

GROUP_KEY = "spark.jobGroup.id"


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing and
    sets no job groups."""

    def __init__(self, spark: SparkSession, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self.phase = ""
        self.overhead_s = 0.0  # time spent in the tracer's own code
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._root: int | None = None

    @contextlib.contextmanager
    def span(self, name: str, group: str | None = None, root: bool = False):
        if not self.enabled:
            yield
            return
        t_in = time.perf_counter()
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else self._root
        prev_group = self.sc.getLocalProperty(GROUP_KEY)
        if group is not None:
            self.sc.setLocalProperty(GROUP_KEY, group)
        with self._lock:
            sid = next(self._ids)
        rec = {
            "id": sid,
            "name": name,
            "parent": None if root else parent,
            "thread": threading.current_thread().name,
            "group": group if group is not None else prev_group,
            "start": time.time(),
            "end": None,
        }
        stack.append(sid)
        if root:
            self.phase, self._root = name, sid
        self._charge(t_in)
        try:
            yield
        finally:
            t_out = time.perf_counter()
            rec["end"] = time.time()
            stack.pop()
            self.sc.setLocalProperty(GROUP_KEY, prev_group)
            if root:
                self._root = None
            with self._lock:
                self.spans.append(rec)
            self._charge(t_out)

    def _charge(self, since: float) -> None:
        with self._lock:
            self.overhead_s += time.perf_counter() - since

    def wrap(self, fn, name: str, group_of):
        """``fn`` with a span around every call; ``group_of(args,
        kwargs)`` names the call's job group (None keeps the caller's)."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            group = group_of(args, kwargs)
            with self.span(name, None if group is None else f"{self.phase}.{group}"):
                return fn(*args, **kwargs)

        return traced

    @contextlib.contextmanager
    def instrument(self):
        """Wrap the program's public stage-store and canonicalize
        functions for the duration of the block.  The job imports them
        when ``main()`` runs, so it picks up the wrapped versions."""
        if not self.enabled:
            yield
            return
        ckpt = importlib.import_module("src_to_kb_spark.runtime.checkpoint")
        canon = importlib.import_module("src_to_kb_spark.operators.canonicalize")
        pipe = importlib.import_module("src_to_kb_spark.pipeline")

        def stage_arg(pos):
            return lambda a, k: k.get("stage", a[pos] if len(a) > pos else None)

        targets = [
            (ckpt, "write_stage", stage_arg(2)),
            (ckpt, "resume_delta", lambda a, k: "delta"),
            (canon, "connected_components", lambda a, k: "components"),
            (canon, "incremental_components", lambda a, k: "components"),
            # the pipeline module binds connected_components at import
            (pipe, "connected_components", lambda a, k: "components"),
            (ckpt.ParquetFormat, "write", lambda a, k: None),
        ]
        saved = []
        for owner, attr, group_of in targets:
            orig = getattr(owner, attr)
            saved.append((owner, attr, orig))
            name = f"{owner.__name__.rsplit('.', 1)[-1]}.{attr}"
            setattr(owner, attr, self.wrap(orig, name, group_of))
        try:
            yield
        finally:
            for owner, attr, orig in saved:
                setattr(owner, attr, orig)


# ---------------------------------------------------------------------------
# status stores
# ---------------------------------------------------------------------------

_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3,
    "TiB": 1024.0**4,
}
_TOTAL = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?")


def parse_metric(text: str | None) -> float:
    """A formatted SQL metric value -> number (seconds for timings,
    bytes for sizes).  Timing and size metrics read
    ``'total (min, med, max ...)\\n10.4 s (...)'``; sums read ``'1,234'``."""
    if not text:
        return 0.0
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _TOTAL.match(line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2) or "", 1.0)


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _opt(scala_opt):
    return scala_opt.get() if scala_opt.isDefined() else None


PY_METRICS = {
    "time to run Python workers": "py_run_s",
    "time to start Python workers": "py_init_s",
    "time to initialize Python workers": "py_init_s",
    "data sent to Python workers": "arrow_bytes",
    "data returned from Python workers": "arrow_bytes",
}
PY_NODE = re.compile(r"(ArrowEvalPython|BatchEvalPython|MapIn(Arrow|Pandas)|"
                     r"FlatMapGroupsIn|PythonUDTF|EvalPython)")


def read_status(spark: SparkSession, since_ms: int) -> dict:
    """Per job group: Spark jobs, tasks, stage I/O and the Python
    SQL metrics of every execution whose jobs carry the group.  Only
    jobs submitted at or after ``since_ms`` (epoch ms) are read."""
    core = spark.sparkContext._jsc.sc().statusStore()
    jobs = []
    for j in _seq(core.jobsList(None)):
        sub = _opt(j.submissionTime())
        if sub is None or sub.getTime() < since_ms:
            continue
        jobs.append(
            {
                "id": j.jobId(),
                "group": _opt(j.jobGroup()),
                "submitted": sub.getTime() / 1000.0,
                "stages": list(_seq(j.stageIds())),
            }
        )
    jobs.sort(key=lambda j: j["id"])
    group_of_job = {j["id"]: j["group"] for j in jobs}

    groups: dict[str, dict] = {}

    def g(name):
        return groups.setdefault(
            name or "",
            {
                "spark_jobs": 0, "rows": 0, "bytes_written": 0,
                "shuffle_bytes": 0, "spill_bytes": 0, "task_skew": 0.0,
                "py_run_s": 0.0, "py_init_s": 0.0, "arrow_bytes": 0.0,
                "py_udf_evals": 0,
            },
        )

    seen_stages: set[int] = set()
    for j in jobs:
        acc = g(j["group"])
        acc["spark_jobs"] += 1
        for sid in j["stages"]:
            if sid in seen_stages:
                continue
            try:
                st = core.lastStageAttempt(sid)
            except Py4JJavaError:  # a stage skipped before it ever ran
                continue
            if str(st.status()) == "SKIPPED":
                continue
            seen_stages.add(sid)
            acc["rows"] += st.outputRecords()
            acc["bytes_written"] += st.outputBytes()
            acc["shuffle_bytes"] += st.shuffleWriteBytes()
            acc["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            durs = sorted(
                t.duration().get()
                for t in _seq(core.taskList(sid, st.attemptId(), 100000))
                if t.duration().isDefined()
            )
            if len(durs) >= 2:
                med = durs[(len(durs) - 1) // 2]
                acc["task_skew"] = max(acc["task_skew"], durs[-1] / max(med, 1))

    sql = spark._jsparkSession.sharedState().statusStore()
    for e in _seq(sql.executionsList()):
        job_ids = [int(k) for k in _seq(e.jobs().keys().toSeq())]
        owned = [group_of_job[k] for k in job_ids if k in group_of_job]
        if not owned:
            continue
        acc = g(owned[0])
        values = sql.executionMetrics(e.executionId())
        for node in _seq(sql.planGraph(e.executionId()).allNodes()):
            if PY_NODE.search(node.name()):
                acc["py_udf_evals"] += 1
            for m in _seq(node.metrics()):
                key = PY_METRICS.get(m.name())
                if key is not None:
                    acc[key] += parse_metric(_opt(values.get(m.accumulatorId())))
    return {"jobs": jobs, "groups": groups}
