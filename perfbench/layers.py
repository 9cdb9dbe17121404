"""Per-layer tracing for the benchmark's traced runs.

Spans are recorded from the benchmark's own files, around calls into
the engine's public functions: ``Tracer.patched`` swaps a module or
class attribute for a wrapper for the length of one traced job and
puts the original back afterwards. Each span gets its own Spark job
group (``spark.jobGroup.id`` and ``spark.job.description``), so the
jobs and SQL executions a span started can be read back from the
status stores once the job is over, off the timed path.

Layers and where their numbers come from:

- ``build``: self time of the DataFrame-returning calls (span time
  minus the action spans inside it) and the py4j call commands sent
  while inside them (counted by wrapping the gateway client's
  ``send_command``; garbage-collection detach messages are not calls);
- ``plan``: ``QueryExecution.tracker().phases()`` of every action's
  query, and the plan-graph node and exchange counts of the SQL
  executions the job ran;
- ``exec``: ``AppStatusStore.lastStageAttempt`` of every stage of
  every job in the job's groups;
- ``materialize``: ``SparkContext.getRDDStorageInfo`` after the job;
- ``sources``: stage input records and scan/write task time, plus the
  input and output files the workload reports;
- ``python``: the SQL status store's ``PythonSQLMetrics`` of pandas
  UDF nodes, and the rows a Python data source scan returned;
- ``host``: CPU time of this process and every descendant (the JVM
  and its Python workers), steal share of ``/proc/stat`` and load.

Spans stay in memory; ``Tracer.dump`` writes them out at the end.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import threading
import time

GROUP = "spark.jobGroup.id"
DESC = "spark.job.description"
CALL = "c\n"  # py4j call command; "m\n" is memory (GC detach) traffic

PY_TIMES = {
    "time to start Python workers": "boot_s",
    "time to initialize Python workers": "init_s",
    "time to run Python workers": "run_s",
}
PY_BYTES = {
    "data sent to Python workers": "bytes_sent",
    "data returned from Python workers": "bytes_received",
}
UNITS = {
    "": 1.0,
    "B": 1.0,
    "KiB": 1024.0,
    "MiB": 1024.0**2,
    "GiB": 1024.0**3,
    "TiB": 1024.0**4,
    "ns": 1e-9,
    "ms": 1e-3,
    "s": 1.0,
    "m": 60.0,
    "h": 3600.0,
}


def parse_metric(text: str | None) -> float:
    """Value of one formatted SQL metric: ``'9,572'``, ``'582 ms'`` or
    ``'total (min, med, max ...)\\n117.5 KiB (...)'``. Times come back
    in seconds and sizes in bytes."""
    if not text:
        return 0.0
    if "\n" in text:
        text = text.split("\n", 1)[1]
    parts = text.split(" (", 1)[0].split()
    return float(parts[0].replace(",", "")) * UNITS.get(
        parts[1] if len(parts) > 1 else "", 1.0
    )


def _opt_ms(opt) -> float | None:
    """Epoch milliseconds of a Scala ``Option[Date]``."""
    return float(opt.get().getTime()) if opt.isDefined() else None


# ---------------------------------------------------------------- host


def _proc_tree_cpu_ticks(root: int) -> int:
    """utime+stime (and reaped children's) of ``root`` and every live
    descendant, from ``/proc/<pid>/stat``."""
    kids: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat.rsplit(")", 1)[1].split()
        pid, ppid = int(entry), int(fields[1])
        kids.setdefault(ppid, []).append(pid)
        ticks[pid] = sum(int(x) for x in fields[11:15])
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(kids.get(pid, ()))
    return total


def process_tree_cpu_s() -> float:
    return _proc_tree_cpu_ticks(os.getpid()) / os.sysconf("SC_CLK_TCK")


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


class HostSampler:
    """Steal share of all CPU time between ``start`` and ``stop`` (from
    ``/proc/stat``) and the 1-minute load average at ``stop``.
    Diagnostic only: never used to normalize another metric."""

    def start(self) -> None:
        self._t0 = _cpu_times()
        self._cpu0 = process_tree_cpu_s()

    def stop(self) -> dict:
        t1 = _cpu_times()
        delta = [b - a for a, b in zip(self._t0, t1)]
        total = sum(delta[:8]) or 1  # user..steal; guest is inside user
        with open("/proc/loadavg") as f:
            load = float(f.read().split()[0])
        return {
            "host.steal_frac": delta[7] / total if len(delta) > 7 else 0.0,
            "host.loadavg": load,
            "host.tree_cpu_s": process_tree_cpu_s() - self._cpu0,
        }


# ---------------------------------------------------------------- spans


class Span:
    __slots__ = ("sid", "name", "kind", "parent", "t0", "t1", "e0", "e1", "calls", "qe")

    def __init__(self, sid: str, name: str, kind: str, parent: "Span | None"):
        self.sid, self.name, self.kind, self.parent = sid, name, kind, parent
        self.t0 = self.t1 = 0.0  # perf_counter, for durations
        self.e0 = self.e1 = 0.0  # epoch ms, to match status-store dates
        self.calls = 0  # py4j call commands sent while innermost
        self.qe = None  # (QueryExecution, planned) of an action span

    @property
    def dur(self) -> float:
        return self.t1 - self.t0

    def record(self) -> dict:
        return {
            "id": self.sid,
            "name": self.name,
            "kind": self.kind,
            "parent": self.parent.sid if self.parent else None,
            "start_ms": self.e0,
            "end_ms": self.e1,
            "py4j_calls": self.calls,
        }


class Tracer:
    """Records spans for traced jobs of one session. Create one per
    run; ``patched`` turns tracing on for one job."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._main = threading.get_ident()
        self._client = self.sc._gateway._gateway_client
        self._send = self._client.send_command
        self._quiet = 0
        self._exec_seen = 0

    # -- py4j counting -------------------------------------------------

    def _counting_send(self, command, *args, **kwargs):
        if (
            self._stack
            and not self._quiet
            and command.startswith(CALL)
            and threading.get_ident() == self._main
        ):
            self._stack[-1].calls += 1
        return self._send(command, *args, **kwargs)

    @contextlib.contextmanager
    def _own_calls(self):
        self._quiet += 1
        try:
            yield
        finally:
            self._quiet -= 1

    # -- spans ---------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str, kind: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(f"perfbench-{os.getpid()}-{len(self.spans)}", name, kind, parent)
        self.spans.append(s)
        with self._own_calls():
            prev = (self.sc.getLocalProperty(GROUP), self.sc.getLocalProperty(DESC))
            self.sc.setLocalProperty(GROUP, s.sid)
            self.sc.setLocalProperty(DESC, s.sid)
        self._stack.append(s)
        s.e0, s.t0 = time.time() * 1000, time.perf_counter()
        try:
            yield s
        finally:
            s.t1, s.e1 = time.perf_counter(), time.time() * 1000
            self._stack.pop()
            with self._own_calls():
                self.sc.setLocalProperty(GROUP, prev[0])
                self.sc.setLocalProperty(DESC, prev[1])

    def _wrap(self, fn, name: str, kind: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name, kind) as s:
                out = fn(*args, **kwargs)
                with tracer._own_calls():
                    if kind == "action":
                        # a DataFrame action runs its own QueryExecution
                        s.qe = (args[0]._jdf.queryExecution(), True)
                    elif kind == "write":
                        # DataFrameWriter.save plans a new command; the
                        # written frame's query is planned once more,
                        # after the job, to read its phases
                        s.qe = (args[0]._df._jdf.queryExecution(), False)
                return out

        return wrapper

    @contextlib.contextmanager
    def patched(self, targets):
        """Trace one job: ``targets`` is a list of ``(owner, attribute,
        span name, kind)``; kind is ``build`` for DataFrame-returning
        calls, ``action`` for DataFrame methods that run Spark jobs and
        ``write`` for ``DataFrameWriter.save``."""
        saved = []
        for owner, attr, name, kind in targets:
            orig = owner.__dict__[attr]
            saved.append((owner, attr, orig))
            setattr(owner, attr, self._wrap(orig, name, kind))
        self._client.send_command = self._counting_send
        try:
            yield
        finally:
            self._client.send_command = self._send
            for owner, attr, orig in reversed(saved):
                setattr(owner, attr, orig)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.record() for s in self.spans], f)

    # -- reading the status stores, after a job --------------------------

    def _subtree(self, root: Span) -> list[Span]:
        out = []
        for s in self.spans:
            p = s
            while p is not None and p is not root:
                p = p.parent
            if p is root:
                out.append(s)
        return out

    def _stages_of(self, sids) -> tuple[int, list]:
        """Number of Spark jobs in the span groups ``sids``, and their
        completed stages."""
        store = self.sc._jsc.sc().statusStore()
        n_jobs, stages = 0, []
        for sid in sids:
            for job_id in self.sc.statusTracker().getJobIdsForGroup(sid):
                n_jobs += 1
                job = store.job(job_id)
                ids = job.stageIds()
                for i in range(ids.size()):
                    st = store.lastStageAttempt(ids.apply(i))
                    if st.status().toString() != "COMPLETE":
                        continue  # skipped: its map output was reused
                    stages.append(
                        {
                            "span": sid,
                            "name": st.name(),
                            "tasks": st.numCompleteTasks(),
                            "run_s": st.executorRunTime() / 1e3,
                            "cpu_s": st.executorCpuTime() / 1e9,
                            "gc_s": st.jvmGcTime() / 1e3,
                            "in_records": st.inputRecords(),
                            "shuffle_read": st.shuffleReadBytes(),
                            "shuffle_write": st.shuffleWriteBytes(),
                            "spill": st.memoryBytesSpilled() + st.diskBytesSpilled(),
                            "peak_mem": st.peakExecutionMemory(),
                            "start": _opt_ms(st.submissionTime()),
                            "end": _opt_ms(st.completionTime()),
                        }
                    )
        return n_jobs, stages

    def _executions(self, sids: set) -> list:
        """Plan graphs and metric values of the SQL executions whose
        description is one of ``sids``."""
        sq = self.spark._jsparkSession.sharedState().statusStore()
        n = sq.executionsCount()
        new = sq.executionsList(self._exec_seen, n - self._exec_seen)
        self._exec_seen = n
        out = []
        for i in range(new.size()):
            ex = new.apply(i)
            if ex.description() not in sids:
                continue
            values = sq.executionMetrics(ex.executionId())
            nodes = sq.planGraph(ex.executionId()).allNodes()
            graph = []
            for k in range(nodes.size()):
                node = nodes.apply(k)
                ms = node.metrics()
                metrics = {}
                for j in range(ms.size()):
                    m = ms.apply(j)
                    v = values.get(m.accumulatorId())
                    metrics[m.name()] = v.get() if v.isDefined() else None
                graph.append((node.name(), metrics))
            out.append(graph)
        return out

    def job_metrics(self, root: Span, stage_names: list[str]) -> dict:
        """Per-layer numbers of the traced job under ``root``."""
        spans = self._subtree(root)
        sids = [s.sid for s in spans]
        kids: dict[str, list[Span]] = {}
        for s in spans:
            if s.parent is not None:
                kids.setdefault(s.parent.sid, []).append(s)

        def self_s(s: Span) -> float:
            return s.dur - sum(c.dur for c in kids.get(s.sid, ()))

        m: dict[str, float] = {}
        build = [s for s in spans if s.kind == "build"]
        m["build.self_s"] = sum(self_s(s) for s in build)
        m["build.py4j_calls"] = sum(s.calls for s in build)

        n_jobs, stages = self._stages_of(sids)
        by_span: dict[str, list] = {}
        for st in stages:
            by_span.setdefault(st["span"], []).append(st)
        for stage in stage_names:
            hits = [s for s in spans if s.name == f"llm.{stage}"]
            sub = {x.sid for h in hits for x in self._subtree(h)}
            sts = [st for sid in sub for st in by_span.get(sid, ())]
            m[f"llm.{stage}.self_s"] = sum(self_s(h) for h in hits)
            m[f"llm.{stage}.task_run_s"] = sum(st["run_s"] for st in sts)
            m[f"llm.{stage}.shuffle_write_bytes"] = sum(st["shuffle_write"] for st in sts)

        m["exec.jobs"] = n_jobs
        m["exec.stages"] = len(stages)
        m["exec.tasks"] = sum(st["tasks"] for st in stages)
        m["exec.task_run_s"] = sum(st["run_s"] for st in stages)
        m["exec.task_cpu_s"] = sum(st["cpu_s"] for st in stages)
        m["exec.gc_s"] = sum(st["gc_s"] for st in stages)
        m["exec.shuffle_read_bytes"] = sum(st["shuffle_read"] for st in stages)
        m["exec.shuffle_write_bytes"] = sum(st["shuffle_write"] for st in stages)
        m["exec.spill_bytes"] = sum(st["spill"] for st in stages)
        m["exec.peak_exec_mem_bytes"] = max((st["peak_mem"] for st in stages), default=0)
        busy, edge = 0.0, root.e0
        for a, b in sorted(
            (max(st["start"], root.e0), min(st["end"], root.e1))
            for st in stages
            if st["start"] is not None and st["end"] is not None
        ):
            if b > edge:
                busy += b - max(a, edge)
                edge = b
        m["exec.driver_only_s"] = max(0.0, root.dur - busy / 1e3)

        m["sources.records_in"] = sum(st["in_records"] for st in stages)
        m["sources.read_task_s"] = sum(st["run_s"] for st in stages if st["in_records"])
        m["sources.write_task_s"] = sum(
            st["run_s"] for st in stages if st["name"].startswith("save at ")
        )

        phases = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
        for s in spans:
            if s.qe is None:
                continue
            qe, ran = s.qe
            if not ran:
                qe.executedPlan()
            summary = qe.tracker().phases()
            for p in phases:
                v = summary.get(p)
                if v.isDefined():
                    phases[p] += v.get().durationMs()
        for p, v in phases.items():
            m[f"plan.{p}_ms"] = v

        nodes = exchanges = 0
        py = {k: 0.0 for k in ("boot_s", "init_s", "run_s", "bytes_sent", "bytes_received", "rows_received")}
        for graph in self._executions(set(sids)):
            for name, metrics in graph:
                if name.startswith("WholeStageCodegen"):
                    continue  # a codegen cluster, not a plan operator
                nodes += 1
                exchanges += name.endswith("Exchange")
                if any(k in metrics for k in PY_TIMES):  # a pandas UDF node
                    for k, v in metrics.items():
                        if k in PY_TIMES:
                            py[PY_TIMES[k]] += parse_metric(v)
                        elif k in PY_BYTES:
                            py[PY_BYTES[k]] += parse_metric(v)
                        elif k == "number of output rows":
                            py["rows_received"] += parse_metric(v)
                elif name.startswith("BatchScan") and any(k in metrics for k in PY_BYTES):
                    # a Python data source scan: only its row count is
                    # per job; its byte metrics are running totals of
                    # the reused worker processes on 4.1.2
                    py["rows_received"] += parse_metric(metrics.get("number of output rows"))
        m["plan.nodes"] = nodes
        m["plan.exchanges"] = exchanges
        m.update({f"python.{k}": v for k, v in py.items()})

        infos = self.sc._jsc.sc().getRDDStorageInfo()
        m["materialize.cached_rdds"] = len(infos)
        m["materialize.mem_bytes"] = sum(i.memSize() for i in infos)
        m["materialize.disk_bytes"] = sum(i.diskSize() for i in infos)
        return m


def unit_of(name: str) -> str:
    """Unit of a per-layer metric, from its name."""
    leaf = name.rsplit(".", 1)[-1]
    if leaf.endswith("_ms"):
        return "ms"
    if leaf.endswith("_s"):
        return "s"
    if "bytes" in leaf:
        return "B"
    if leaf.endswith("_frac"):
        return "ratio"
    if leaf == "loadavg":
        return "load"
    return "count"
