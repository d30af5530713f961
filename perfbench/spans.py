"""Traced-mode instrumentation, read from Spark's own stores.

Nothing here reaches into the engine. Each key execution is a root
span with ``build``, ``plan`` and ``execute`` children; every Spark job
started inside a child carries the job group ``{workload}:{key}:{layer}``
and the description ``trace=<id> pass=<n>``. After each key execution
the listener bus is drained and the new jobs, stages and SQL
executions are read back from the status store (``AppStatusStore``)
and the SQL status store, and attributed to the span through their
description. Micro-batch progress comes from a registered
``StreamingQueryListener``. Spans stay in memory until ``dump``.
"""

from __future__ import annotations

import json
import re
import time
from collections import Counter

from pyspark.sql.streaming import StreamingQueryListener

_DESC = re.compile(r"trace=(\d+) ")
_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_PY_METRICS = {
    "data sent to Python workers": "udf.bytes_sent",
    "data returned from Python workers": "udf.bytes_received",
    "number of output rows": "udf.rows_received",
}
_STAGE_FIELDS = {
    "tasks": ("numCompleteTasks", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spill_bytes": ("diskBytesSpilled", 1),
    "input_bytes": ("inputBytes", 1),
    "output_bytes": ("outputBytes", 1),
    "output_records": ("outputRecords", 1),
    "task_run_s": ("executorRunTime", 1e-3),
    "task_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "fetch_wait_s": ("shuffleFetchWaitTime", 1e-3),
}


def _opt(o):
    return o.get() if o.isDefined() else None


def _seq(s):
    return [s.apply(i) for i in range(s.size())]


def metric_value(text: str) -> float:
    """First number of a SQL metric's display string, in base units
    (bytes, seconds, rows). Multi-task metrics read
    ``total (min, med, max ...)\\n<total> (<min>, ...)``."""
    line = text.split("\n")[-1].strip()
    m = re.match(r"([-\d.,]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return v * _SIZE.get(unit, _TIME.get(unit, 1.0))


def window_partition_is_empty(desc: str) -> bool:
    """``Window [exprs], [partitionSpec], [orderSpec]``: is the second
    to last bracket group empty? (A window with no partition spec runs
    in one task.)"""
    groups, depth, end = [], 0, None
    for i in range(len(desc) - 1, -1, -1):
        c = desc[i]
        if c == "]":
            if depth == 0:
                end = i
            depth += 1
        elif c == "[":
            depth -= 1
            if depth == 0:
                groups.append(desc[i + 1 : end])
                if len(groups) == 2:
                    return groups[1].strip() == ""
    return False


class _Progress(StreamingQueryListener):
    def __init__(self, sink: list):
        self.sink = sink

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        d = p.durationMs or {}
        self.sink.append({
            "run": str(p.runId),
            "trigger_s": d.get("triggerExecution", 0) / 1e3,
            "add_batch_s": d.get("addBatch", 0) / 1e3,
            "commit_s": (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3,
            "state_commit_s": sum(s.commitTimeMs for s in p.stateOperators) / 1e3,
            "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
        })

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


class Tracer:
    """Spans plus per-span Spark counters for one traced process."""

    def __init__(self, spark, workload: str):
        self.workload = workload
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.bus, self.store = jsc.listenerBus(), jsc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.spans: list[dict] = []
        self.counters: dict[int, Counter] = {}
        self._progress: list[dict] = []
        self._seen_jobs = -1
        self._seen_exec = -1
        self._seen_stages: set[int] = set()
        self._next = 0
        spark.streams.addListener(_Progress(self._progress))

    # -- spans ---------------------------------------------------------
    def root(self, key: str, pass_no: int) -> dict:
        # progress from untraced executions belongs to no span
        self.bus.waitUntilEmpty()
        self._progress.clear()
        self._next += 1
        span = {"trace": self._next, "key": key, "pass": pass_no, "name": "key",
                "start": time.perf_counter(), "end": None}
        self.spans.append(span)
        return span

    def child(self, root: dict, layer: str) -> dict:
        self.sc.setJobGroup(
            f"{self.workload}:{root['key']}:{layer}",
            f"trace={root['trace']} pass={root['pass']}",
        )
        span = {"trace": root["trace"], "key": root["key"], "pass": root["pass"],
                "name": layer, "start": time.perf_counter(), "end": None}
        self.spans.append(span)
        return span

    @staticmethod
    def close(span: dict) -> float:
        span["end"] = time.perf_counter()
        return span["end"] - span["start"]

    def plan(self, root: dict, df) -> None:
        """Force physical planning of the built frame and record the
        Catalyst phase times and the plan's shape."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        c = self.counters.setdefault(root["trace"], Counter())
        phases = qe.tracker().phases()
        for phase in ("analysis", "optimization", "planning"):
            summary = _opt(phases.get(phase))
            c[f"plan.{phase}_s"] += summary.durationMs() / 1e3 if summary else 0.0

    # -- counters ------------------------------------------------------
    def collect(self, root: dict) -> None:
        """Attribute every job, stage, SQL execution and micro-batch
        finished since the last call to ``root``'s trace id."""
        self.sc.setJobGroup(f"{self.workload}:-:idle", "idle")
        self.bus.waitUntilEmpty()
        c = self.counters.setdefault(root["trace"], Counter())
        for j in reversed(self._newer(self.store.jobsList(None), "jobId", self._seen_jobs)):
            self._seen_jobs = max(self._seen_jobs, j.jobId())
            group, desc = _opt(j.jobGroup()) or "", _opt(j.description()) or ""
            m = _DESC.search(desc)
            if not m or int(m.group(1)) != root["trace"]:
                continue
            layer = group.rsplit(":", 1)[-1]
            c[f"{layer}.jobs"] += 1
            wrote = False
            for sid in _seq(j.stageIds()):
                if sid in self._seen_stages:
                    continue
                self._seen_stages.add(sid)
                st = self.store.lastStageAttempt(sid)
                if st.status().toString() != "COMPLETE":
                    continue
                c[f"{layer}.stages"] += 1
                for name, (getter, scale) in _STAGE_FIELDS.items():
                    c[f"{layer}.{name}"] += getattr(st, getter)() * scale
                wrote = wrote or st.outputBytes() > 0 or st.outputRecords() > 0
            if wrote and layer != "execute":
                c["io.write_jobs"] += 1
        n = self.sql.executionsCount()
        tail = _seq(self.sql.executionsList(max(0, n - 256), min(n, 256)))
        for e in tail[::-1] if tail and tail[0].executionId() > tail[-1].executionId() else tail:
            eid = e.executionId()
            if eid <= self._seen_exec:
                continue
            self._seen_exec = eid
            m = _DESC.search(e.description() or "")
            if not m or int(m.group(1)) != root["trace"]:
                continue
            self._plan_graph(eid, c)
        for p in self._progress:
            c["streaming.batches"] += 1
            for k in ("trigger_s", "add_batch_s", "commit_s", "state_commit_s"):
                c[f"streaming.{k}"] += p[k]
        if self._progress:  # state size at each replay's last batch
            last = {p["run"]: p["state_rows"] for p in self._progress}
            c["streaming.state_rows"] += sum(last.values())
        self._progress.clear()

    @staticmethod
    def _newer(seq, id_getter: str, seen: int) -> list:
        """Items of a newest-first Scala Seq whose id exceeds ``seen``."""
        out = []
        for i in range(seq.size()):
            item = seq.apply(i)
            if getattr(item, id_getter)() <= seen:
                break
            out.append(item)
        return out

    def _plan_graph(self, eid: int, c: Counter) -> None:
        values = None
        for node in _seq(self.sql.planGraph(eid).allNodes()):
            name = node.name()
            if name in ("Exchange", "BroadcastExchange"):
                c["plan.exchanges"] += 1
            elif name == "Window" and window_partition_is_empty(node.desc()):
                c["plan.single_partition_windows"] += 1
            elif "Python" in name or "Pandas" in name or "Arrow" in name:
                metrics = {m.name(): m.accumulatorId() for m in _seq(node.metrics())}
                if "data sent to Python workers" not in metrics:
                    continue
                c["udf.python_nodes"] += 1
                if values is None:
                    values = self.sql.executionMetrics(eid)
                for mname, out in _PY_METRICS.items():
                    if mname in metrics:
                        v = _opt(values.get(metrics[mname]))
                        c[out] += metric_value(v) if v else 0.0

    def dump(self, path: str) -> None:
        """Write one JSON record per key execution: its spans (with self
        time) and its counters."""
        by_trace: dict[int, list] = {}
        for s in self.spans:
            by_trace.setdefault(s["trace"], []).append(s)
        with open(path, "w") as fh:
            for tid, spans in by_trace.items():
                root = next(s for s in spans if s["name"] == "key")
                kids = {s["name"]: s["end"] - s["start"] for s in spans if s is not root and s["end"]}
                wall = (root["end"] or root["start"]) - root["start"]
                rec = {
                    "trace": tid, "workload": self.workload, "key": root["key"],
                    "pass": root["pass"], "wall_s": wall, "spans": kids,
                    "self_s": wall - sum(kids.values()),
                    "counters": dict(self.counters.get(tid, {})),
                }
                fh.write(json.dumps(rec) + "\n")
