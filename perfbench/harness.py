"""Run plumbing shared by the workloads: the Spark session's lifetime,
the closed-loop timer, the tracer and the Spark event-log reader.

Everything a run writes lives under one work directory inside the
benchmark's own directory, and is removed when the run ends.
"""

from __future__ import annotations

import glob
import json
import math
import os
import statistics
import sys
import time
import traceback
from contextlib import contextmanager

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_DIR = os.path.dirname(BENCH_DIR)
WORK_ROOT = os.path.join(BENCH_DIR, ".work")
RESULTS_DIR = os.path.join(BENCH_DIR, "results")

# Fixed so the benchmark's footprint does not depend on the host's memory:
# every workload's working set is well under 1 GB.
DRIVER_MEM = "3g"


def median(xs) -> float:
    return float(statistics.median(xs))


# ---------------------------------------------------------------------------
# tracing
# ---------------------------------------------------------------------------


class Tracer:
    """Spans (name, start, end, parent) around the benchmark's calls into
    each layer, kept in memory and written out when the run ends. When
    disabled, ``span`` does nothing but yield.

    A span opened with ``job_group=True`` also tags the Spark jobs it
    launches with a job group of its own, so the event log can attribute
    jobs, tasks and shuffle bytes to it."""

    def __init__(self, enabled: bool, spark=None):
        self.enabled = enabled
        self.sc = spark.sparkContext if spark is not None else None
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._stack: list[int] = []
        # Spark job group id -> span id (stream runs register their runId)
        self.groups: dict[str, int] = {}

    @contextmanager
    def span(self, name: str, job_group: bool = False):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter() - self.t0,
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        if job_group:
            gid = f"span-{rec['id']}"
            self.groups[gid] = rec["id"]
            self.sc.setJobGroup(gid, name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self.t0
            self._stack.pop()
            if job_group:
                self.sc.setJobGroup("untraced", "outside any traced span")

    def now(self) -> float:
        return time.perf_counter() - self.t0


def read_event_log(event_dir: str) -> dict:
    """Per Spark job group: jobs, tasks, input records read, shuffle write
    bytes and GC ms; every job's group, submission and completion time
    (epoch ms); and jobs per (group, streaming batch id). Reads the
    uncompressed event log a stopped session left in ``event_dir``."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}
    jobs: dict[int, dict] = {}
    batches: dict[tuple[str, str], int] = {}

    def acc(g: str) -> dict:
        return out.setdefault(g, dict.fromkeys(GROUP_COUNTERS, 0))

    for path in sorted(glob.glob(os.path.join(event_dir, "**", "events_*"), recursive=True)):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    g = props.get("spark.jobGroup.id") or "untraced"
                    acc(g)["jobs"] += 1
                    jobs[ev["Job ID"]] = {"group": g, "start": ev["Submission Time"], "end": None}
                    b = props.get("streaming.sql.batchId")
                    if b is not None:
                        batches[(g, b)] = batches.get((g, b), 0) + 1
                    for st in ev.get("Stage Infos", []):
                        stage_group.setdefault(st["Stage ID"], g)
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    a = acc(stage_group.get(ev.get("Stage ID"), "untraced"))
                    m = ev.get("Task Metrics") or {}
                    a["tasks"] += 1
                    a["gc_ms"] += m.get("JVM GC Time", 0)
                    a["records_read"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
                    a["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
    return {"groups": out, "jobs": list(jobs.values()), "batches": batches}


GROUP_COUNTERS = ("jobs", "tasks", "records_read", "shuffle_write_bytes", "gc_ms")


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of [start, end] intervals."""
    total, reach = 0.0, -math.inf
    for a, b in sorted(intervals):
        if b > reach:
            total += b - max(a, reach)
            reach = b
    return total


# ---------------------------------------------------------------------------
# the Spark session's lifetime
# ---------------------------------------------------------------------------


def _proc_cpu_s(pid: int) -> float:
    """utime + stime of a process, from /proc/<pid>/stat."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def _children(pid: int) -> list[int]:
    out = []
    for task in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(task) as f:
                out += [int(p) for p in f.read().split()]
        except OSError:
            continue
    return out


def _descendants(pid: int) -> list[int]:
    todo, seen = [pid], []
    while todo:
        p = todo.pop()
        kids = _children(p)
        seen += kids
        todo += kids
    return seen


class SparkRun:
    """One local Spark session whose scratch state (tables, checkpoints,
    warehouse, local dirs, JVM and Python temp files, event log) lives in
    ``work``; ``close`` stops the session and waits for the JVM and its
    Python workers to exit."""

    def __init__(self, work: str, traced: bool):
        self.work = work
        self.event_dir = os.path.join(work, "events")
        tmp = os.path.join(work, "tmp")
        local = os.path.join(work, "local")
        for d in (tmp, local, self.event_dir):
            os.makedirs(d)
        # inherited by the JVM and, through it, by the Python workers
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = local
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [REPO_DIR] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        )
        os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
        conf = {
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # -XX:-UsePerfData: no /tmp/hsperfdata_<user> file outside the checkout
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"
            ),
            "spark.ui.showConsoleProgress": "false",
        }
        if traced:
            conf |= {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.event_dir,
                "spark.eventLog.compress": "false",
            }
        from pyspark import SparkContext

        from aleph2_contrib_spark.session import get_spark

        self.spark = get_spark("perfbench", extra_conf=conf)
        self.gateway = SparkContext._gateway
        self.jvm_pid = int(self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())

    def jvm_cpu_s(self) -> float:
        return _proc_cpu_s(self.jvm_pid)

    def close(self) -> None:
        """Stop the session and wait for its processes; safe to repeat."""
        from pyspark import SparkContext

        if self.gateway is None:
            return
        pids = [self.jvm_pid] + _descendants(self.jvm_pid)
        try:
            self.spark.stop()
        finally:
            proc = getattr(self.gateway, "proc", None)
            self.gateway.shutdown()
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits on EOF
                try:
                    proc.wait(timeout=60)
                except Exception:  # noqa: BLE001 - must not leave the JVM behind
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
            self.gateway = None
            _wait_gone(pids)


def kill_descendants() -> None:
    """Kill whatever this process started that is still running (a JVM
    whose launch was interrupted has no handle to stop it by)."""
    _wait_gone(_descendants(os.getpid()), timeout=0.0)


def _wait_gone(pids: list[int], timeout: float = 30.0) -> None:
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        if alive:
            time.sleep(0.05)
    for p in alive:
        try:
            os.kill(p, 9)
        except OSError:
            pass


# ---------------------------------------------------------------------------
# workload base
# ---------------------------------------------------------------------------


class Workload:
    """A closed-loop client: ``round`` issues one fixed mix of operations,
    each through ``op``, which times it and counts it as attempted or
    failed. Subclasses define setup / round / check and their metrics."""

    name = ""

    def __init__(self, run: SparkRun, seed: int, tracer: Tracer):
        self.run = run
        self.spark = run.spark
        self.seed = seed
        self.tr = tracer
        self.lat_ms: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.timed = False  # True inside the measured window
        self.window = (0.0, 0.0)  # the measured window, in tracer time
        self.setup_phases: dict[str, float] = {}  # seconds per set-up phase

    def op(self, kind: str, fn, *args, n: int = 1, **kwargs):
        """Run one operation (``n`` counted units of work, e.g. the
        micro-batches of one stream run); timed and counted only inside
        the window."""
        if self.timed:
            self.attempted += n
        t = time.perf_counter()
        try:
            with self.tr.span(kind, job_group=True):
                out = fn(*args, **kwargs)
        except Exception:  # noqa: BLE001 - a failed operation is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            if not self.timed:
                raise
            self.failed += n
            return None
        if self.timed:
            self.lat_ms.setdefault(kind, []).append(1000 * (time.perf_counter() - t))
        return out

    @contextmanager
    def phase(self, name: str):
        """Time one phase of set-up (reported beside ``setup_s``)."""
        t = time.perf_counter()
        yield
        self.setup_phases[name] = time.perf_counter() - t

    def p50_ms(self, kind: str) -> float:
        return median(self.lat_ms[kind])

    def setup(self) -> None:
        raise NotImplementedError

    def start_window(self) -> None:
        """Called just before the first timed round."""

    def stop_window(self) -> None:
        """Called just after the last timed round."""

    def round(self) -> None:
        raise NotImplementedError

    def check(self) -> list[str]:
        raise NotImplementedError

    # -- metrics -------------------------------------------------------------
    # Every workload reports the same metrics, each over its own operation
    # mix; the workload-specific figures go to the run's summary file.

    def op_samples(self) -> dict[str, list[float]]:
        """Latency samples (ms) per operation kind, for ``op_geomean_ms``."""
        return self.lat_ms

    def end_to_end(self, rounds: int) -> dict[str, tuple[float, str]]:
        """``op_geomean_ms``: the geometric mean, over the operation kinds,
        of each kind's median latency; ``round_s``: the time spent in
        operations per round of the fixed mix."""
        logs = [math.log(median(v)) for v in self.op_samples().values()]
        in_ops_s = sum(sum(v) for v in self.lat_ms.values()) / 1000
        return {
            "op_geomean_ms": (math.exp(sum(logs) / len(logs)), "ms"),
            "round_s": (in_ops_s / rounds, "s"),
        }

    def per_layer(self, events: dict, rounds: int, cpu: dict) -> dict[str, tuple[float, str]]:
        """Per timed operation (mean over the window): the Spark jobs,
        tasks, input records, shuffle bytes and GC time attributed to it
        by job group; ``op.spark_ms``, the time while one of its jobs ran,
        and ``op.driver_ms``, the rest of its wall time (planning, log
        reads, driver-side compute, Python). Per round: JVM and Python CPU
        seconds."""
        by_span: dict[int, list[str]] = {}
        for g, s in self.timed_groups().items():
            by_span.setdefault(s["id"], []).append(g)
        sums = dict.fromkeys(GROUP_COUNTERS + ("spark_ms", "driver_ms"), 0.0)
        for sid, groups in by_span.items():
            for g in groups:
                for k, v in events["groups"].get(g, {}).items():
                    sums[k] += v
            spark_ms = _union_ms(
                [(j["start"], j["end"]) for j in events["jobs"] if j["group"] in groups and j["end"]]
            )
            s = self.tr.spans[sid]
            sums["spark_ms"] += spark_ms
            sums["driver_ms"] += max(0.0, 1000 * (s["end"] - s["start"]) - spark_ms)
        n = len(by_span)
        units = {
            "jobs": "count", "tasks": "count", "records_read": "count",
            "shuffle_write_bytes": "bytes", "gc_ms": "ms", "spark_ms": "ms", "driver_ms": "ms",
        }
        out = {f"op.{k}": (sums[k] / n, u) for k, u in units.items()}
        out["round.jvm_cpu_s"] = (cpu["jvm_cpu_s"] / rounds, "s")
        out["round.py_cpu_s"] = (cpu["py_cpu_s"] / rounds, "s")
        return out

    def e2e_detail(self) -> dict[str, tuple[float, str]]:
        """The workload's own latencies, for the summary file."""
        raise NotImplementedError

    def layer_detail(self, events: dict) -> dict[str, tuple[float, str]]:
        """The workload's own layer probes (traced runs), for the summary file."""
        raise NotImplementedError

    # -- per-layer helpers -------------------------------------------------
    def window_spans(self, name: str | None = None) -> list[dict]:
        t0, t1 = self.window
        return [
            s for s in self.tr.spans
            if t0 <= s["start"] < t1 and (name is None or s["name"] == name)
        ]

    def span_ms(self, name: str) -> list[float]:
        return [1000 * (s["end"] - s["start"]) for s in self.window_spans(name)]

    def timed_groups(self) -> dict[str, dict]:
        """Job groups of spans inside the timed window -> the span."""
        inside = {s["id"] for s in self.window_spans()}
        return {g: self.tr.spans[sid] for g, sid in self.tr.groups.items() if sid in inside}

    def jobs_per(self, events: dict, kind: str) -> float:
        groups = events["groups"]
        per = [
            groups.get(g, {}).get("jobs", 0)
            for g, s in self.timed_groups().items()
            if s["name"] == kind
        ]
        return median(per)
