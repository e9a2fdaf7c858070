"""Layer attribution for the benchmark's traced runs.

Three sources, none of which changes a program file:

- ``Tracer`` wraps public functions of the package's layers where their
  callers resolve them (a module that did ``from x import f`` holds its
  own reference, so every module binding the function is patched) and
  keeps spans ``(name, start, end, parent)`` in memory.
- ``read_event_log`` folds Spark's uncompressed, non-rolling event log:
  jobs, stages, task metrics and SQL metrics (the Python-worker metrics
  among them), each attributed to the operation whose time window holds
  it.
- ``StreamListener`` sums ``StreamingQueryListener`` progress events.
"""

from __future__ import annotations

import functools
import json
import re
import sys
import threading
import time
from collections import defaultdict

# physical operators that run Python workers (ArrowEvalPython, MapInPandas,
# FlatMapGroupsInPandas, MapInArrow, ...); stateful operators also carry
# the Python metric names, so the operator name decides
PY_NODE = re.compile(r"Python|Pandas|Arrow")
PY_METRICS = {
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
    "time to start Python workers": "python.boot_ms",
    "time to initialize Python workers": "python.init_ms",
    "time to run Python workers": "python.run_ms",
}
WRITE_METRICS = {
    "number of written files": "materialize.files_written",
    "written output": "materialize.bytes_written",
}


class Tracer:
    """In-memory spans. A span opened on a thread with no open span of
    its own takes the innermost span marked ``adopt`` as parent, so tasks
    run on executor pool threads nest under the executor call."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._adopt: list[int] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str, adopt: bool = False, **attrs) -> int:
        stack = self._stack()
        parent = stack[-1] if stack else (self._adopt[-1] if self._adopt else None)
        with self._lock:
            idx = len(self.spans)
            self.spans.append({"name": name, "start": time.time(), "end": None,
                               "parent": parent, **attrs})
            if adopt:
                self._adopt.append(idx)
        stack.append(idx)
        return idx

    def close(self, idx: int) -> None:
        self.spans[idx]["end"] = time.time()
        self._stack().pop()
        with self._lock:
            if idx in self._adopt:
                self._adopt.remove(idx)

    def wrap(self, fn, name, adopt: bool = False, attrs=None):
        """``name`` is a span name or a callable ``(*args) -> name``;
        ``attrs`` an optional callable ``(*args) -> dict``."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            label = name(*args) if callable(name) else name
            idx = self.open(label, adopt=adopt, **(attrs(*args) if attrs else {}))
            try:
                return fn(*args, **kwargs)
            finally:
                self.close(idx)

        return wrapper

    def patch_function(self, original, name, prefix: str = "dbt_fal_spark", **kw) -> None:
        """Replace ``original`` in every loaded module under ``prefix``
        that binds it."""
        wrapped = self.wrap(original, name, **kw)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == prefix or mod_name.startswith(prefix + ".")):
                continue
            for attr, value in list(vars(mod).items()):
                if value is original:
                    setattr(mod, attr, wrapped)

    def patch_method(self, cls, attr: str, name, classmethod_: bool = False, **kw) -> None:
        raw = cls.__dict__[attr]
        fn = raw.__func__ if classmethod_ else raw
        wrapped = self.wrap(fn, name, **kw)
        setattr(cls, attr, classmethod(wrapped) if classmethod_ else wrapped)

    def closed(self) -> list[dict]:
        return [s for s in self.spans if s["end"] is not None]


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> list[float]:
    """Span wall minus the union of its children's walls."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    out = []
    for i, s in enumerate(spans):
        out.append(max(0.0, (s["end"] - s["start"]) - _union_length(children.get(i, []))))
    return out


def layer_totals(spans: list[dict]) -> dict[str, dict]:
    """Per span name: outermost wall (nested spans of the same name are
    not counted twice), call count and summed self time."""
    selfs = self_times(spans)
    out: dict[str, dict] = defaultdict(lambda: {"wall_s": 0.0, "calls": 0, "self_s": 0.0})
    for i, s in enumerate(spans):
        rec = out[s["name"]]
        rec["self_s"] += selfs[i]
        p, nested = s["parent"], False
        while p is not None:
            if spans[p]["name"] == s["name"]:
                nested = True
                break
            p = spans[p]["parent"]
        if not nested:
            rec["wall_s"] += s["end"] - s["start"]
            rec["calls"] += 1
    return dict(out)


def critical_path(groups: list[dict]) -> float:
    """Longest dependency chain of group walls. ``groups`` holds
    ``{"id", "wall", "deps"}`` for one executor call."""
    wall = {g["id"]: g["wall"] for g in groups}
    deps = {g["id"]: [d for d in g["deps"] if d in wall] for g in groups}
    memo: dict[str, float] = {}

    def finish(node: str) -> float:
        if node not in memo:
            memo[node] = wall[node] + max((finish(d) for d in deps[node]), default=0.0)
        return memo[node]

    return max((finish(g) for g in wall), default=0.0)


class Windows:
    """Maps an epoch-ms timestamp to the operation window holding it."""

    def __init__(self, windows: list[tuple[float, float, str]]) -> None:
        self.windows = sorted((s * 1000.0, e * 1000.0, label) for s, e, label in windows)

    def find(self, ts_ms: float | None) -> str | None:
        if ts_ms is None:
            return None
        for s, e, label in self.windows:
            if s <= ts_ms <= e:
                return label
            if s > ts_ms:
                break
        return None


def _walk_plan(node: dict, acc: dict[int, tuple[str, str, bool]]) -> None:
    metrics = node.get("metrics", []) or []
    python_node = bool(PY_NODE.search(node.get("nodeName", "")))
    for m in metrics:
        acc[int(m["accumulatorId"])] = (m.get("name", ""), m.get("metricType", ""), python_node)
    for child in node.get("children", []) or []:
        _walk_plan(child, acc)


def _metric_value(value: float, metric_type: str) -> float:
    # SQL timing metrics: "timing" is in ms, "nsTiming" in ns
    return value / 1e6 if metric_type == "nsTiming" else value


def read_event_log(path: str, windows: Windows) -> tuple[dict[str, dict], list[float]]:
    """Per operation label: Spark counters and task/SQL metric sums for
    every job, stage, task and SQL execution inside that label's
    windows; and the submission time (epoch ms) of every job."""
    acc_meta: dict[int, tuple[str, str, bool]] = {}
    exec_time: dict[int, float] = {}
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    submits: list[float] = []

    def add_sql(label: str | None, acc_id: int, update) -> None:
        meta = acc_meta.get(acc_id)
        if label is None or meta is None:
            return
        name, mtype, python_node = meta
        try:
            v = _metric_value(float(update), mtype)
        except (TypeError, ValueError):
            return
        if python_node and name in PY_METRICS:
            out[label][PY_METRICS[name]] += v
        elif python_node and name == "number of output rows":
            out[label]["python.rows_returned"] += v
        elif name in WRITE_METRICS:
            out[label][WRITE_METRICS[name]] += v

    with open(path) as fh:
        for line in fh:
            e = json.loads(line)
            kind = e.get("Event", "")
            if kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
                if "time" in e:
                    exec_time[int(e["executionId"])] = float(e["time"])
                if e.get("sparkPlanInfo"):
                    _walk_plan(e["sparkPlanInfo"], acc_meta)
            elif kind.endswith("DriverAccumUpdates"):
                label = windows.find(exec_time.get(int(e["executionId"])))
                for acc_id, update in e.get("accumUpdates", []):
                    add_sql(label, int(acc_id), update)
            elif kind == "SparkListenerJobStart":
                submits.append(float(e.get("Submission Time", 0)))
                label = windows.find(e.get("Submission Time"))
                if label is not None:
                    out[label]["spark.jobs"] += 1
            elif kind == "SparkListenerStageSubmitted":
                label = windows.find(e["Stage Info"].get("Submission Time"))
                if label is not None:
                    out[label]["spark.stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                info = e["Task Info"]
                label = windows.find(info.get("Launch Time"))
                if label is None:
                    continue
                rec = out[label]
                rec["spark.tasks"] += 1
                m = e.get("Task Metrics") or {}
                rec["spark.executor_run_ms"] += m.get("Executor Run Time", 0)
                rec["spark.executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                rec["spark.gc_ms"] += m.get("JVM GC Time", 0)
                rec["spark.input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                sw = m.get("Shuffle Write Metrics") or {}
                rec["spark.shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                rec["spark.shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                rec["spark.spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                rec["spark.output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                for a in info.get("Accumulables", []) or []:
                    if "ID" in a and "Update" in a:
                        add_sql(label, int(a["ID"]), a["Update"])
    return {k: dict(v) for k, v in out.items()}, submits


def count_in(times: list[float], intervals: list[tuple[float, float]]) -> int:
    """Number of epoch-ms ``times`` inside any epoch-second interval."""
    return sum(1 for t in times if any(s * 1000.0 <= t <= e * 1000.0 for s, e in intervals))


def make_stream_listener():
    """A ``StreamingQueryListener`` summing progress events; pyspark is
    imported lazily so this module loads without it."""
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamListener(StreamingQueryListener):
        def __init__(self) -> None:
            self.lock = threading.Lock()
            self.batches = 0
            self.input_rows = 0
            self.trigger_ms = 0.0
            self.last_state: dict[str, tuple[int, int]] = {}

        def onQueryStarted(self, event) -> None:  # noqa: N802
            pass

        def onQueryProgress(self, event) -> None:  # noqa: N802
            p = event.progress
            ops = p.stateOperators or []
            with self.lock:
                self.batches += 1
                self.input_rows += int(p.numInputRows or 0)
                self.trigger_ms += float((p.durationMs or {}).get("triggerExecution", 0) or 0)
                self.last_state[str(p.id)] = (
                    sum(int(s.numRowsTotal or 0) for s in ops),
                    sum(int(s.memoryUsedBytes or 0) for s in ops),
                )

        def onQueryIdle(self, event) -> None:  # noqa: N802
            pass

        def onQueryTerminated(self, event) -> None:  # noqa: N802
            pass

        def totals(self) -> dict[str, float]:
            with self.lock:
                return {
                    "streaming.batches": self.batches,
                    "streaming.input_rows": self.input_rows,
                    "streaming.trigger_ms": self.trigger_ms,
                    "streaming.state_rows_total": sum(v[0] for v in self.last_state.values()),
                    "streaming.state_memory_bytes": sum(v[1] for v in self.last_state.values()),
                }

    return StreamListener()
