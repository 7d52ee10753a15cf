"""Shared harness for the perfbench workloads: per-run state and launch
environment, the Spark session, the closed-loop runner, latency
statistics, peak-RSS sampling and the Spark event-log parser.

Everything here measures the program from outside: it times calls into
the package's public functions and reads Spark's own JSON event log.
"""

from __future__ import annotations

import json
import math
import os
import shlex
import shutil
import statistics
import sys
import threading
import time
import traceback
from collections import defaultdict
from dataclasses import dataclass, field

STATE_DIR = ".perfbench"
PR_SET_CHILD_SUBREAPER = 36  # <linux/prctl.h>


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def physical_mem_mb() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1 << 20)


def driver_mem_mb() -> int:
    """Heap for the single local-mode JVM: a quarter of physical memory,
    clamped to [1 GiB, 8 GiB], so both sides of an A/B run on the same
    heap and the JVM never sizes itself past the machine."""
    return max(1024, min(physical_mem_mb() // 4, 8192))


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


@dataclass
class RunDirs:
    """Fresh per-run state under <checkout>/.perfbench/run-<id>; removed
    when the run ends."""

    root: str
    base: str

    @classmethod
    def create(cls, root: str) -> "RunDirs":
        base = os.path.join(
            root, STATE_DIR, f"run-{os.getpid()}-{time.time_ns()}"
        )
        os.makedirs(base)
        dirs = cls(root, base)
        for sub in ("sidecars", "buckets", "local", "sql-warehouse", "tmp",
                    "events", "inputs", "warehouse"):
            os.makedirs(dirs.path(sub))
        return dirs

    def path(self, *parts: str) -> str:
        return os.path.join(self.base, *parts)

    def remove(self) -> None:
        shutil.rmtree(self.base, ignore_errors=True)


def configure_environment(dirs: RunDirs) -> None:
    """Launch environment for the JVM and the Python workers. Must run
    before pyspark is imported: it also points Python's tempfile at the
    run directory."""
    env = os.environ
    env["SPARK_GRAFT_CPUS"] = str(cpu_count())
    env["SPARK_DRIVER_MEM"] = f"{driver_mem_mb()}m"
    env["SPARK_GRAFT_SIDECAR_DIR"] = dirs.path("sidecars")
    env["SPARK_GRAFT_BUCKET_DIR"] = dirs.path("buckets")
    env["SPARK_LOCAL_DIRS"] = dirs.path("local")
    env["TMPDIR"] = dirs.path("tmp")
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (dirs.root, env.get("PYTHONPATH", "")) if p
    )
    env.pop("SPARK_MASTER", None)
    confs = {
        "spark.sql.warehouse.dir": dirs.path("sql-warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    java_opts = f"-Djava.io.tmpdir={dirs.path('tmp')} -XX:-UsePerfData"
    args = []
    for k, v in confs.items():
        args += ["--conf", f"{k}={v}"]
    args += ["--driver-java-options", java_opts, "pyspark-shell"]
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(a) for a in args)


def start_session():
    from trialstreamer_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    return proc.pid if proc is not None else None


def stop_session(spark) -> None:
    """Stop Spark and wait for the gateway JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    try:
        spark.stop()
    except Exception as exc:  # noqa: BLE001 - the JVM is shut down below anyway
        log(f"spark.stop() failed: {exc!r}")
    finally:
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:  # noqa: BLE001 - already closing
                pass
        if proc is not None:
            try:
                proc.stdin.close()
            except (OSError, AttributeError):
                pass
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 - last resort
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


def become_subreaper() -> None:
    """Make this process the reaper of its orphaned descendants (Linux
    PR_SET_CHILD_SUBREAPER), so helpers that the JVM forks, such as
    PySpark's worker daemon and the launch script's subshells, become
    our children when their parent exits and ``reap_children`` can wait
    for them."""
    import ctypes

    try:
        prctl = ctypes.CDLL(None, use_errno=True).prctl
    except (OSError, AttributeError):  # not Linux: orphans go to init
        return
    prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    prctl.restype = ctypes.c_int
    if prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        log(f"PR_SET_CHILD_SUBREAPER failed: errno {ctypes.get_errno()}")


def _child_pids() -> list[int]:
    me, out = os.getpid(), []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                # the field after the parenthesised command is state, then ppid
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == me:
            out.append(int(d))
    return out


def reap_children(timeout: float = 30.0) -> None:
    """Wait until every child process has ended, killing any still
    running after ``timeout`` seconds."""
    import signal

    deadline = time.monotonic() + timeout
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            return
        if time.monotonic() > deadline:
            for pid in _child_pids():
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


class EventLog:
    """Spark's own JSON event log (the listener ``spark.eventLog.enabled``
    installs), attached to the running context only while traced work
    runs, so one process can compare traced and untraced operations."""

    def __init__(self, spark, events_dir: str) -> None:
        sc = spark.sparkContext
        self._sc, jvm = sc._jsc.sc(), sc._jvm
        uri = "file://" + events_dir
        conf = (self._sc.conf().clone()
                .set("spark.eventLog.compress", "false")
                .set("spark.eventLog.rolling.enabled", "false")
                .set("spark.eventLog.dir", uri))
        self._listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            self._sc.applicationId(), jvm.scala.Option.apply(None),
            jvm.java.net.URI(uri), conf, sc._jsc.hadoopConfiguration())
        self._listener.start()
        self.attached = False

    def set(self, on: bool) -> None:
        """Attach or detach, after every event already posted has been
        delivered, so each operation's events go wholly in or out."""
        if on == self.attached:
            return
        self._sc.listenerBus().waitUntilEmpty()
        if on:
            self._sc.addSparkListener(self._listener)
        else:
            self._sc.removeSparkListener(self._listener)
        self.attached = on

    def close(self) -> None:
        self.set(False)
        self._listener.stop()


def jvm_gc_ms(spark) -> float:
    """Cumulative collection time of every JVM garbage collector."""
    beans = spark._jvm.java.lang.management.ManagementFactory
    return float(sum(b.getCollectionTime() for b in beans.getGarbageCollectorMXBeans()))


def live_heap_mb(spark) -> float:
    """JVM heap still in use after a full collection: the data the engine
    keeps resident (cached tables, persisted sidecars, broadcasts)."""
    import gc

    gc.collect()  # drop Python handles so Spark's cleaner can free their data
    jvm = spark._jvm
    jvm.java.lang.System.gc()
    time.sleep(1.0)  # ContextCleaner frees broadcasts and shuffles asynchronously
    jvm.java.lang.System.gc()
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return heap.getHeapMemoryUsage().getUsed() / float(1 << 20)


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class RssSampler:
    """Peak resident memory of this (driver) process plus the gateway
    JVM, sampled every 100 ms on a daemon thread."""

    def __init__(self) -> None:
        self.peak_mb = 0.0
        self._jvm: int | None = None
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> None:
        self._thread.start()

    def attach_jvm(self, pid: int | None) -> None:
        self._jvm = pid

    def sample(self) -> None:
        total = _rss_mb(os.getpid())
        if self._jvm is not None:
            total += _rss_mb(self._jvm)
        self.peak_mb = max(self.peak_mb, total)

    def _loop(self) -> None:
        while not self._stop.wait(0.1):
            self.sample()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def _betacf(a: float, b: float, x: float) -> float:
    """Continued fraction of the incomplete beta function (modified
    Lentz), as in Numerical Recipes' betacf."""
    tiny = 1e-300
    qab, qap, qam = a + b, a + 1.0, a - 1.0
    c, d = 1.0, 1.0 - qab * x / qap
    d = 1.0 / (d if abs(d) > tiny else tiny)
    h = d
    for m in range(1, 300):
        m2 = 2 * m
        for num in (m * (b - m) * x / ((qam + m2) * (a + m2)),
                    -(a + m) * (qab + m) * x / ((a + m2) * (qap + m2))):
            d = 1.0 + num * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + num / c
            c = c if abs(c) > tiny else tiny
            h *= d * c
        if abs(d * c - 1.0) < 1e-12:
            break
    return h


def _betainc(a: float, b: float, x: float) -> float:
    """Regularized incomplete beta function I_x(a, b)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
                     + a * math.log(x) + b * math.log1p(-x))
    if x < (a + 1.0) / (a + b + 2.0):
        return front * _betacf(a, b, x) / a
    return 1.0 - front * _betacf(b, a, 1.0 - x) / b


def hd_quantile(xs: list[float], p: float) -> float:
    """Harrell-Davis estimate of the p-quantile of sorted ``xs``: a
    beta-weighted mean of all order statistics. Unlike a single order
    statistic it does not jump between neighbouring samples, which
    matters for a few dozen samples drawn from a mix of operations."""
    n = len(xs)
    a, b = (n + 1) * p, (n + 1) * (1 - p)
    cdf = [_betainc(a, b, i / n) for i in range(n + 1)]
    return sum(x * (cdf[i + 1] - cdf[i]) for i, x in enumerate(xs))


def summarize(samples: list[float]) -> dict:
    """Median plus a tail, both Harrell-Davis estimates. The tail is the
    highest percentile with at least ten samples beyond it, and at least
    p75: with fewer than 40 samples p75 has fewer than ten beyond it.
    ``tail_pct`` says which."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        return {"n": 0, "p50": math.nan, "tail": math.nan, "tail_pct": math.nan}
    pct = max(75.0, 100.0 * (n - 10) / n)
    return {"n": n, "p50": hd_quantile(xs, 0.5),
            "tail": hd_quantile(xs, pct / 100.0), "tail_pct": pct}


def tree_bytes(path: str) -> int:
    return sum(file_sizes(path).values())


def file_sizes(path: str) -> dict[str, int]:
    out = {}
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            full = os.path.join(dirpath, f)
            try:
                out[full] = os.path.getsize(full)
            except OSError:
                pass
    return out


def bytes_written_since(before: dict[str, int], path: str) -> int:
    """Bytes of files created or grown under ``path`` since ``before``
    (a ``file_sizes`` snapshot). Files only ever appear in the layouts
    measured here, so this is the bytes written in between."""
    total = 0
    for f, size in file_sizes(path).items():
        total += max(0, size - before.get(f, 0))
    return total


@dataclass
class Op:
    """One closed-loop operation: ``fn`` runs on the clock; ``check``
    (optional) validates its result off the clock and returns an error
    string or None."""

    kind: str
    fn: object
    check: object = None
    label: str = ""


@dataclass
class Recorder:
    """Per-run counters filled by the closed loop and the workloads."""

    attempted: int = 0
    failed: int = 0
    latencies: list = field(default_factory=list)  # (kind, label, seconds)
    traced: list = field(default_factory=list)  # per latency: event log on
    errors: list = field(default_factory=list)
    timers: dict = field(default_factory=lambda: defaultdict(float))

    def fail(self, what: str, err: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(f"{what}: {err}")
        log(f"FAILED {what}: {err}")

    def timed(self, name: str):
        return _Timer(self.timers, name)


class _Timer:
    def __init__(self, sink, name):
        self.sink, self.name = sink, name

    def __enter__(self):
        self.t0 = time.perf_counter()

    def __exit__(self, *exc):
        self.sink[self.name] += time.perf_counter() - self.t0
        return False


def run_op(spark, rec: Recorder, op: Op, seq: int) -> None:
    """Run one operation in its own Spark job group and record it. A
    raise or a failed check counts against ``attempted``; only successful
    operations contribute latency samples."""
    sc = spark.sparkContext
    rec.attempted += 1
    label = (op.label or op.kind).replace(":", "_")
    sc.setJobGroup(f"op:{op.kind}:{label}:{seq}", label)
    t0 = time.perf_counter()
    try:
        out = op.fn()
        dt = time.perf_counter() - t0
    except Exception:  # noqa: BLE001 - a failing op is a measured outcome
        rec.fail(f"{op.kind} {op.label}", traceback.format_exc(limit=3).strip()
                 .splitlines()[-1])
        return
    finally:
        sc.setJobGroup(None, None)
    if op.check is not None:
        try:
            err = op.check(out)
        except Exception:  # noqa: BLE001
            err = traceback.format_exc(limit=3).strip().splitlines()[-1]
        if err:
            rec.fail(f"{op.kind} {op.label}", err)
            return
    rec.latencies.append((op.kind, op.label, dt))


def closed_loop(spark, rec: Recorder, blocks, n_blocks: int,
                events: EventLog | None = None) -> None:
    """One client, next call only after the previous returns, for
    ``n_blocks`` whole blocks, so every run does the same work in the
    same mix. With ``events``, every other operation runs with the event
    log attached, so traced and untraced latencies come from one run."""
    seq = 0
    for _, block in zip(range(n_blocks), blocks):
        for op in block:
            on = events is not None and seq % 2 == 0
            if events is not None:
                events.set(on)
            n = len(rec.latencies)
            run_op(spark, rec, op, seq)
            rec.traced += [on] * (len(rec.latencies) - n)
            seq += 1
    if events is not None:
        events.set(False)


# -- Spark event log -------------------------------------------------------

_PY_NODE_MARKERS = ("Python", "Pandas", "Arrow")


def _walk_plan(node, out_rows: set, out_time: dict) -> None:
    name = node.get("nodeName", "")
    if any(m in name for m in _PY_NODE_MARKERS):
        for m in node.get("metrics", []):
            if m.get("name") == "number of output rows":
                out_rows.add(m["accumulatorId"])
            elif m.get("name") == "time to run Python workers":
                # SQL timing metrics are ms ("timing") or ns ("nsTiming")
                ns = m.get("metricType") == "nsTiming"
                out_time[m["accumulatorId"]] = 1e6 if ns else 1.0
    for child in node.get("children", []):
        _walk_plan(child, out_rows, out_time)


def read_event_log(events_dir: str) -> list[dict]:
    events = []
    for dirpath, _dirs, files in os.walk(events_dir):
        for f in sorted(files):
            if f.startswith(".") or f.startswith("appstatus"):
                continue
            with open(os.path.join(dirpath, f)) as fh:
                for line in fh:
                    line = line.strip()
                    if line:
                        events.append(json.loads(line))
    return events


def spark_layer_metrics(events: list[dict], t_start_ms: float, t_end_ms: float,
                        n_ops: int) -> tuple[dict, dict]:
    """Aggregate the event log over jobs submitted inside
    [t_start_ms, t_end_ms] (the measured phase). Returns (metrics,
    per_group) where per_group maps the job group of every job in the
    log, measured or not, to its job count and executor run time."""
    py_rows_ids: set = set()
    py_time_ids: dict = {}
    job_group: dict[int, str] = {}
    stage_job: dict[int, int] = {}
    measured_jobs: set = set()
    for e in events:
        ev = e.get("Event", "")
        if ev.endswith("SparkListenerSQLExecutionStart") or ev.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            plan = e.get("sparkPlanInfo")
            if plan:
                _walk_plan(plan, py_rows_ids, py_time_ids)
        elif ev == "SparkListenerJobStart":
            jid = e["Job ID"]
            props = e.get("Properties") or {}
            job_group[jid] = props.get("spark.jobGroup.id") or "-"
            for sid in e.get("Stage IDs", []):
                stage_job[sid] = jid
            if t_start_ms <= e.get("Submission Time", 0) <= t_end_ms:
                measured_jobs.add(jid)

    stages: set = set()
    task_times: dict[int, list] = defaultdict(list)
    m = defaultdict(float)
    per_group: dict[str, dict] = defaultdict(lambda: {"jobs": 0, "run_ms": 0.0})
    for group in job_group.values():
        per_group[group]["jobs"] += 1
    for e in events:
        if e.get("Event") != "SparkListenerTaskEnd":
            continue
        sid = e["Stage ID"]
        jid = stage_job.get(sid)
        if jid is None:
            continue
        tm = e.get("Task Metrics") or {}
        run_ms = float(tm.get("Executor Run Time", 0))
        per_group[job_group[jid]]["run_ms"] += run_ms
        if jid not in measured_jobs:
            continue
        stages.add((sid, e.get("Stage Attempt ID", 0)))
        task_times[sid].append(run_ms)
        m["tasks"] += 1
        m["exec_run_ms"] += run_ms
        m["exec_cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
        m["task_gc_ms"] += tm.get("JVM GC Time", 0)
        m["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
            "Disk Bytes Spilled", 0
        )
        m["peak_exec_mem_bytes"] = max(
            m["peak_exec_mem_bytes"], tm.get("Peak Execution Memory", 0)
        )
        sr = tm.get("Shuffle Read Metrics") or {}
        m["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
            "Local Bytes Read", 0
        )
        sw = tm.get("Shuffle Write Metrics") or {}
        m["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        for acc in (e.get("Task Info") or {}).get("Accumulables", []):
            name, upd = acc.get("Name"), acc.get("Update")
            if not isinstance(upd, (int, float)):
                try:
                    upd = float(upd)
                except (TypeError, ValueError):
                    continue
            if name in ("data sent to Python workers",
                        "data returned from Python workers"):
                m["pyudf_bytes"] += upd
            elif acc.get("ID") in py_rows_ids:
                m["pyudf_rows"] += upd
            elif acc.get("ID") in py_time_ids:
                m["pyudf_ms"] += upd / py_time_ids[acc["ID"]]
    skews = []
    for times in task_times.values():
        if len(times) >= 2:
            med = statistics.median(times)
            skews.append(max(times) / med if med > 0 else 1.0)
    jobs = len(measured_jobs)
    metrics = {
        "spark.jobs": jobs,
        "spark.jobs_per_op": jobs / n_ops if n_ops else 0.0,
        "spark.stages": len(stages),
        "spark.tasks": int(m["tasks"]),
        "spark.shuffle_read_bytes": int(m["shuffle_read_bytes"]),
        "spark.shuffle_write_bytes": int(m["shuffle_write_bytes"]),
        "spark.spill_bytes": int(m["spill_bytes"]),
        "spark.peak_exec_mem_bytes": int(m["peak_exec_mem_bytes"]),
        "spark.task_skew": statistics.median(skews) if skews else 1.0,
        "spark.exec_run_ms": m["exec_run_ms"],
        "spark.exec_cpu_ms": m["exec_cpu_ms"],
        "spark.task_gc_ms": m["task_gc_ms"],
        "pyudf.rows": int(m["pyudf_rows"]),
        "pyudf.bytes": int(m["pyudf_bytes"]),
        "pyudf.ms": m["pyudf_ms"],
    }
    return metrics, dict(per_group)
