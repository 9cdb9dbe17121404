"""Closed-loop benchmark of the shmr_spark engine.

    python3 perfbench/run.py --workload llm_pipeline --seed 1 --seconds 20 --trace 0

One process, one SparkSession on ``local[2]`` (fewer if fewer cores
are usable) with a fixed ``spark.sql.shuffle.partitions``. Each job
gets its own input generated from ``(seed, job index)``; jobs run one
after another (a closed loop with one client). The first ``warmup``
jobs are part of set-up; then jobs run until ``--seconds`` are used up
and at least ``min_jobs`` have been timed. Every job's output is checked
and a failed check counts as a failed operation.

With ``--trace 0`` the last stdout line carries the end-to-end
metrics. With ``--trace 1`` two untraced and two traced jobs run in
A-B-B-A order, the per-layer metrics are the median over the traced
jobs, and ``trace.overhead_s`` is the traced minus the untraced median
job time. Spans are written to ``.perfbench_out/`` at the end.
All scratch files live under ``.perfbench_work/`` in the checkout and
are removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

from layers import HostSampler, Tracer, process_tree_cpu_s, unit_of
from workloads import WORKLOADS, LlmPipeline

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SHUFFLE_PARTITIONS = 4

# Two task threads leave the other cores of a four-core host to the
# driver, the JIT and GC threads, so jobs do not queue on the scheduler.
CORES = 2


def _cores() -> int:
    return min(CORES, len(os.sched_getaffinity(0)))


def start_session(work: str):
    from shmr_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return get_spark(
        app_name="perfbench",
        master=f"local[{_cores()}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    _reap_descendants()


def _descendants() -> list[int]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            kids.setdefault(ppid, []).append(int(entry))
    out, todo = [], [os.getpid()]
    while todo:
        for k in kids.get(todo.pop(), ()):
            out.append(k)
            todo.append(k)
    return out


def _reap_descendants(timeout: float = 20.0) -> None:
    """Wait for every process started under this one to end; kill
    what is left after ``timeout``."""
    deadline = time.monotonic() + timeout
    while (left := _descendants()) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for pid in left:
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


class Run:
    """One benchmark run: set-up, warm-up, timed jobs, metrics."""

    def __init__(self, args, work: str):
        self.args, self.work = args, work
        self.attempted = self.failed = 0
        self.host = HostSampler()

    def job(self, wl, index: int, tracer=None):
        """Stage, run and check one job; returns (seconds, input,
        per-layer metrics or None)."""
        inp = wl.stage(index)
        self.attempted += 1
        layer = None
        try:
            cpu0 = process_tree_cpu_s()
            if tracer is None:
                t0 = time.perf_counter()
                out = wl.run(inp)
                secs = time.perf_counter() - t0
            else:
                with tracer.patched(wl.trace_targets()):
                    with tracer.span(f"{wl.name}.job", "job") as root:
                        out = wl.run(inp)
                secs = root.dur
            cpu = process_tree_cpu_s() - cpu0
            if tracer is not None:
                layer = tracer.job_metrics(root, LlmPipeline.stages)
                files_out, bytes_out, records_out = wl.outputs(inp, out)
                layer.update(
                    {
                        "sources.files_in": inp.files_in,
                        "sources.bytes_in": inp.bytes_in,
                        "sources.files_out": files_out,
                        "sources.bytes_out": bytes_out,
                        "sources.records_out": records_out,
                        "host.cpu_s": cpu,
                    }
                )
            errs = wl.check(inp, out)
        except Exception:
            traceback.print_exc()
            errs, secs = ["job raised"], None
        finally:
            wl.release(inp)
        if errs:
            self.failed += 1
            print(f"perfbench: job {index} failed: {'; '.join(errs)}", file=sys.stderr)
            return None, inp, layer
        return secs, inp, layer

    def execute(self) -> tuple[dict, dict]:
        args = self.args
        self.host.start()
        t0 = time.perf_counter()
        spark = start_session(self.work)
        session_s = time.perf_counter() - t0
        try:
            from shmr_spark.pyship import ensure_package_shipped

            ensure_package_shipped(spark)
            wl = WORKLOADS[args.workload](spark, self.work, args.seed)
            warm = []
            for i in range(wl.warmup):
                secs, _, _ = self.job(wl, i)
                warm.append(secs)
            setup_s = time.perf_counter() - t0
            if args.trace:
                timed, layers = self.traced_loop(spark, wl)
            else:
                timed, layers = self.loop(wl), None
        finally:
            stop_session(spark)
        host = self.host.stop()
        ok = [(s, r) for s, r in timed if s is not None]
        info = {
            "workload": args.workload,
            "seed": args.seed,
            "master": f"local[{_cores()}]",
            "shuffle_partitions": SHUFFLE_PARTITIONS,
            "warmup_jobs_s": warm,
            "timed_jobs_s": [s for s, _ in timed],
            "session_start_s": session_s,
            **host,
        }
        if getattr(wl, "seen_digests", None):
            info["digests"] = wl.seen_digests
        if layers is not None:
            return info, self.layer_metrics(layers, session_s, host)
        if not ok:
            return info, {}
        return info, {
            "job_p50_s": (statistics.median(s for s, _ in ok), "s"),
            "throughput_rps": (statistics.median(r / s for s, r in ok), "1/s"),
            "setup_s": (setup_s, "s"),
        }

    def loop(self, wl) -> list:
        """Timed jobs until ``--seconds`` are used up: a job starts only
        if it is expected to end less than half a job past the limit."""
        timed, index, last = [], wl.warmup, 0.0
        w0 = time.perf_counter()
        while time.perf_counter() - w0 + last / 2 < self.args.seconds or len(timed) < wl.min_jobs:
            t0 = time.perf_counter()
            secs, inp, _ = self.job(wl, index)
            last = time.perf_counter() - t0
            timed.append((secs, inp.records))
            index += 1
        return timed

    def traced_loop(self, spark, wl):
        """Two untraced and two traced jobs, so the counts of a seed
        repeat exactly and the overhead is measured in the same
        session."""
        tracer = Tracer(spark)
        timed, plain, traced, layers = [], [], [], []
        index = wl.warmup
        # A-B-B-A order, so a trend still left after warm-up cancels
        # out of the overhead
        for t in (None, tracer, tracer, None):
            secs, inp, layer = self.job(wl, index, t)
            timed.append((secs, inp.records))
            (plain if t is None else traced).append(secs)
            if layer is not None:
                layers.append(layer)
            index += 1
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"spans-{self.args.workload}-seed{self.args.seed}.json")
        tracer.dump(path)
        print(f"perfbench: spans written to {path}", file=sys.stderr)
        return timed, (layers, plain, traced)

    def layer_metrics(self, layers, session_s: float, host: dict) -> dict:
        per_job, plain, traced = layers
        if None in plain or None in traced or not per_job:
            return {}
        m = {k: statistics.median(j[k] for j in per_job) for k in per_job[0]}
        m["session.start_s"] = session_s
        m["host.steal_frac"] = host["host.steal_frac"]
        m["host.loadavg"] = host["host.loadavg"]
        m["trace.overhead_s"] = statistics.median(traced) - statistics.median(plain)
        return {k: (v, unit_of(k)) for k, v in m.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import shmr_spark  # noqa: F401  the engine under test, from this checkout
    except ImportError as exc:
        print(f"perfbench: cannot import shmr_spark from {ROOT}: {exc}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    # every temporary file of this process and its children stays
    # inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    # the launcher JVM spark-submit starts first would otherwise write
    # its performance counters to the system temporary directory
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    try:
        run = Run(args, work)
        info, metrics = run.execute()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(info))
    result = {
        "correct": run.failed == 0 and bool(metrics),
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
