"""Measurement plumbing: spans, Spark job groups, process-tree CPU and
RSS from ``/proc``, and per-job-group totals from the Spark event log.

Everything here observes the engine from the outside: spans wrap the
benchmark's own calls into a layer, and job groups tag the Spark jobs a
call fires so the event log can attribute task metrics to it.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


# ----------------------------------------------------------------------
# spans
# ----------------------------------------------------------------------
class Tracer:
    """In-memory span recorder.

    A span is ``(id, name, layer, start, end, parent)``; the parent is
    the innermost span open when it started.  With a Spark session, each
    span also becomes the Spark job group for its duration, so every job
    it fires is attributable in the event log.  Disabled tracers record
    nothing and leave the job group alone.
    """

    def __init__(self, spark=None, enabled: bool = False):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {
            "id": sid, "layer": layer, "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(), "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        group = f"pb{sid}"
        if self.spark is not None:
            self.spark.sparkContext.setJobGroup(group, f"{layer}:{name}")
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["group"] = group
            self._stack.pop()
            if self.spark is not None:
                if self._stack:
                    self.spark.sparkContext.setJobGroup(
                        f"pb{self._stack[-1]}", self.spans[self._stack[-1]]["name"]
                    )
                else:
                    self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    def self_times(self) -> dict[str, float]:
        """Seconds per layer not covered by that span's children."""
        child_cover: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_cover[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["end"] is not None:
                out[s["layer"]] += (s["end"] - s["start"]) - child_cover[s["id"]]
        return dict(out)

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "self_s": self.self_times(), **extra}, fh)


# ----------------------------------------------------------------------
# process tree
# ----------------------------------------------------------------------
def _stat(pid: str) -> tuple[int, float, int] | None:
    """(ppid, cpu seconds incl. reaped children, rss bytes) of one pid."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    f = raw[raw.rindex(")") + 2 :].split()
    # fields after ")": state ppid ... utime(11) stime(12) cutime(13) cstime(14) ... rss(21)
    cpu = (int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])) / _TICK
    return int(f[1]), cpu, int(f[21]) * _PAGE


def _cmdline(pid: str) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def tree() -> dict[str, tuple[int, float, int]]:
    """This process and its live descendants."""
    root = str(os.getpid())
    stats = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = _stat(pid)
            if st is not None:
                stats[pid] = st
    kids = defaultdict(list)
    for pid, st in stats.items():
        kids[str(st[0])].append(pid)
    out, todo = {}, [root]
    while todo:
        p = todo.pop()
        if p in stats:
            out[p] = stats[p]
            todo.extend(kids[p])
    return out


def tree_cpu_s() -> float:
    """CPU seconds of this process, the JVM and every Python worker, with
    the time of children they already reaped."""
    return sum(st[1] for st in tree().values())


def pyworker_cpu_s() -> float:
    """CPU seconds of the ``pyspark.daemon`` process and its workers."""
    return sum(
        st[1] for pid, st in tree().items() if "pyspark.daemon" in _cmdline(pid)
    )


class RssSampler:
    """Samples the summed RSS of the process tree in a background
    thread; ``peak`` is the largest sum seen while running.  A disabled
    sampler starts no thread (untraced runs do not report memory)."""

    def __init__(self, enabled: bool, interval: float = 0.1):
        self.enabled = enabled
        self.interval = interval  # seconds
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, sum(st[2] for st in tree().values()))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        if self.enabled:
            self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        if self.enabled:
            self._stop.set()
            self._thread.join(timeout=10)


# ----------------------------------------------------------------------
# Spark-side figures
# ----------------------------------------------------------------------
_PY_NODES = (
    "ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
    "PythonMapInArrow", "FlatMapGroupsInPandas", "FlatMapGroupsInArrow",
    "FlatMapCoGroupsInPandas", "FlatMapCoGroupsInArrow", "AggregateInPandas",
    "WindowInPandas", "ArrowWindowPython", "ArrowAggregatePython",
    "EvalPythonUDTF", "BatchEvalPythonUDTF", "ArrowEvalPythonUDTF",
)


def plan_figures(df) -> dict[str, float]:
    """Catalyst phase times of ``df`` (planning forced if still lazy) and
    the number of Python evaluation nodes in its executed plan.

    ``tracker().phases()`` maps a phase name to a Scala
    ``Option[PhaseSummary]`` wrapper; each is unwrapped before reading
    its start and end.
    """
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    phases = qe.tracker().phases()
    out = {}
    for ph in ("analysis", "optimization", "planning"):
        opt = phases.get(ph)
        if opt is not None and opt.isDefined():
            summ = opt.get()
            out[ph] = (summ.endTimeMs() - summ.startTimeMs()) / 1000.0
        else:
            out[ph] = 0.0
    out["python_nodes"] = sum(
        1 for line in plan.splitlines() if any(n in line for n in _PY_NODES)
    )
    return out


_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"


def parse_event_log(path: str) -> dict[str, dict[str, float]]:
    """Per-job-group totals from a Spark event log.

    ``tools/spill_report.parse_event_log`` sums a whole log; this keeps
    its task fields, adds executor run/CPU time, GC time, job and task
    counts and the Python-worker SQL metrics, and attributes every task
    to the job group of the job that ran its stage.  ``job_s`` sums the
    submission-to-completion time of the group's jobs.
    """
    from tools.spill_report import _log_lines

    stage_group: dict[int, str] = {}
    job_start: dict[int, tuple[str, float]] = {}
    acc: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for line in _log_lines(path):
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
            acc[group]["jobs"] += 1
            job_start[ev.get("Job ID")] = (group, ev.get("Submission Time", 0))
        elif kind == "SparkListenerJobEnd" and ev.get("Job ID") in job_start:
            group, t0 = job_start.pop(ev["Job ID"])
            acc[group]["job_s"] += (ev.get("Completion Time", t0) - t0) / 1e3
        elif kind == "SparkListenerTaskEnd":
            a = acc[stage_group.get(ev.get("Stage ID"), "")]
            m = ev.get("Task Metrics") or {}
            a["tasks"] += 1
            a["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            a["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            a["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            a["peak_exec_mem_bytes"] = max(
                a["peak_exec_mem_bytes"], m.get("Peak Execution Memory", 0)
            )
            a["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            a["shuffle_read_bytes"] += sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0)
            a["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            a["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            for u in (ev.get("Task Info") or {}).get("Accumulables", []):
                if u.get("Name") == _PY_SENT:
                    a["py_sent_bytes"] += float(u.get("Update", 0))
                elif u.get("Name") == _PY_RECV:
                    a["py_recv_bytes"] += float(u.get("Update", 0))
    return {g: dict(v) for g, v in acc.items()}


def event_log_path(log_dir: str, app_id: str) -> str | None:
    """The event log of application ``app_id`` (a file or, in Spark 4,
    an ``eventlog_v2_<app>`` directory)."""
    entries = [e for e in os.listdir(log_dir) if app_id in e] if os.path.isdir(log_dir) else []
    return os.path.join(log_dir, entries[0]) if entries else None


# ----------------------------------------------------------------------
# per-layer metrics of a traced run
# ----------------------------------------------------------------------
#: per-layer metric -> unit; every traced run reports all of them
LAYER_UNITS = {
    "session.load_table_s": "s", "session.load_table_jobs": "count",
    "queries.build_s": "s", "queries.build_jobs": "count",
    "plan.analysis_s": "s", "plan.optimization_s": "s", "plan.planning_s": "s",
    "plan.python_nodes": "count",
    "exec.s": "s", "exec.jobs": "count", "exec.tasks": "count", "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s", "exec.gc_s": "s", "exec.shuffle_read_bytes": "B",
    "exec.shuffle_write_bytes": "B", "exec.spill_bytes": "B", "exec.peak_exec_mem_bytes": "B",
    "exec.input_bytes": "B",
    "pyworker.cpu_s": "s", "pyworker.data_sent_bytes": "B", "pyworker.data_received_bytes": "B",
    "pipeline.pre_sink_s": "s", "pipeline.pre_sink_jobs": "count",
    "sinks.write_s": "s", "sinks.jobs": "count", "sinks.bytes_written": "B",
    "sinks.files_written": "count", "sinks.write_amp": "ratio", "sinks.table_bytes": "B",
    "links.surrogate_s": "s", "links.surrogate_hit_ratio": "ratio",
    "bench.self_s": "s", "session.self_s": "s", "links.self_s": "s", "queries.self_s": "s",
    "exec.self_s": "s", "pipeline.self_s": "s", "sinks.self_s": "s",
    "proc.peak_rss_mb": "MB",
    "trace.overhead_frac": "ratio",
}

_EXEC_FIELDS = ("tasks", "executor_run_s", "executor_cpu_s", "gc_s", "shuffle_read_bytes",
                "shuffle_write_bytes", "spill_bytes", "input_bytes")


def jobs_by_span(tracer: Tracer, groups: dict) -> dict[int, float]:
    """Jobs fired under each span, its descendants included."""
    total = {s["id"]: groups.get(s.get("group", ""), {}).get("jobs", 0.0) for s in tracer.spans}
    for s in reversed(tracer.spans):  # children are recorded after their parents
        if s["parent"] is not None:
            total[s["parent"]] += total[s["id"]]
    return total


def layer_metrics(tracer: Tracer, groups: dict, n_ops: int) -> dict[str, float]:
    """Per-operation figures of the traced operations: ``exec.*`` sums
    every job they fired (the ``plan`` spans, which only inspect plans,
    excluded); job counts per layer; and self time per layer."""
    n = max(n_ops, 1)
    ex: dict[str, float] = defaultdict(float)
    layer_jobs: dict[str, float] = defaultdict(float)
    layer_spans: dict[str, int] = defaultdict(int)
    for s in tracer.spans:
        layer_spans[s["layer"]] += 1
        if s["layer"] == "plan":
            continue
        g = groups.get(s.get("group", ""), {})
        layer_jobs[s["layer"]] += g.get("jobs", 0.0)
        for k, v in g.items():
            ex[k] = max(ex[k], v) if k == "peak_exec_mem_bytes" else ex[k] + v
    out = {f"exec.{k}": ex[k] / n for k in _EXEC_FIELDS}
    out.update({
        "exec.s": ex["job_s"] / n,
        "exec.jobs": ex["jobs"] / n,
        "exec.peak_exec_mem_bytes": ex["peak_exec_mem_bytes"],
        "pyworker.data_sent_bytes": ex["py_sent_bytes"] / n,
        "pyworker.data_received_bytes": ex["py_recv_bytes"] / n,
        "session.load_table_jobs": layer_jobs["session"] / max(layer_spans["session"], 1),
        "queries.build_jobs": layer_jobs["queries"] / n,
    })
    for layer, secs in tracer.self_times().items():
        if f"{layer}.self_s" in LAYER_UNITS:
            out[f"{layer}.self_s"] = secs / n
    return out


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def finish_layer(out: dict) -> dict:
    """Every per-layer metric with its unit; layers a workload never
    enters read 0."""
    return {k: metric(out.get(k, 0.0), u) for k, u in LAYER_UNITS.items()}
