"""perfbench: one command for the end-to-end and per-layer benchmark.

    python3 perfbench/run.py --workload registry|daily_update \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The untraced run (--trace 0) prints
every end-to-end metric; the traced run (--trace 1) attaches Spark's
JSON event log to every other operation of the closed loop, turns on
the benchmark's own timers and prints the per-layer metrics, including
the tracing overhead: traced against untraced operations of the same
run. A readable report goes to stdout first; the last line of stdout is
one JSON object {correct, attempted, failed, metrics}.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import pickle  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.getcwd()
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common  # noqa: E402
from perfbench.common import Recorder, RssSampler, log  # noqa: E402

WORKLOADS = ("registry", "daily_update")


def metric_units(section: str) -> dict[str, str]:
    """Metric name -> unit, in BENCHMARK.json order, for one section."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec[section]}


def make_workload(name: str, dirs, seed: int, rec: Recorder, trace: bool):
    if name == "registry":
        from perfbench.registry import Registry as cls
    else:
        from perfbench.daily import DailyUpdate as cls
    return cls(dirs, seed, rec, trace)


_CHILD = """\
import pickle, sys
sys.path[:0] = [{root!r}]
with open({job!r}, "rb") as f:
    fn, args = pickle.load(f)
out = fn(*args)
with open({out!r}, "wb") as f:
    pickle.dump(out, f)
"""


class InputJob:
    """Generates a workload's inputs in a child process, so the
    benchmark's own Python memory never counts toward the measured
    process, while this process starts the Spark session. A plain child
    (not a multiprocessing pool) so that no helper process, such as
    multiprocessing's resource tracker, outlives the run."""

    def __init__(self, job, run_dir: str) -> None:
        self.proc = None
        if job is not None:
            job_file = os.path.join(run_dir, "input-job.pkl")
            self.out_file = os.path.join(run_dir, "input-result.pkl")
            with open(job_file, "wb") as f:
                pickle.dump(job, f)
            code = _CHILD.format(root=ROOT, job=job_file, out=self.out_file)
            # the child's stdout goes to stderr: stdout ends in the JSON line
            self.proc = subprocess.Popen([sys.executable, "-c", code],
                                         stdout=sys.stderr, stdin=subprocess.DEVNULL)

    def result(self):
        if self.proc is None:
            return None
        code = self.proc.wait()
        if code != 0:
            raise RuntimeError(f"input generation exited with code {code}")
        with open(self.out_file, "rb") as f:
            return pickle.load(f)

    def close(self) -> None:
        if self.proc is not None:
            if self.proc.poll() is None:  # the run failed before it was read
                self.proc.kill()
            self.proc.wait()


def measure(args, dirs: common.RunDirs) -> tuple[dict, dict, dict, Recorder]:
    trace = bool(args.trace)
    common.configure_environment(dirs)
    rec = Recorder()
    rss = RssSampler()
    spark = events = inputs_job = None
    try:
        wl = make_workload(args.workload, dirs, args.seed, rec, trace)
        inputs_job = InputJob(wl.input_job(), dirs.base)
        rss.start()
        with rec.timed("session.start_s"):
            spark = common.start_session()
        rss.attach_jvm(common.jvm_pid())
        # only the inputs time not hidden behind the session start is
        # taken out of setup_s
        t0 = time.perf_counter()
        wl.set_inputs(inputs_job.result())
        t_inputs = time.perf_counter() - t0
        wl.setup(spark)
        setup_s = time.perf_counter() - T_START - t_inputs
        if trace:
            events = common.EventLog(spark, dirs.path("events"))
        gc0 = common.jvm_gc_ms(spark)
        wall0 = time.time() * 1000
        n_blocks = max(1, round(args.seconds / wl.block_seconds))
        if trace:  # it measures more after the loop, in the same time limit
            n_blocks = max(2, n_blocks // 2)
        common.closed_loop(spark, rec, wl.blocks(), n_blocks, events)
        wall1 = time.time() * 1000
        gc_ms = common.jvm_gc_ms(spark) - gc0
        rss.sample()
        rss.stop()
        live_mb = common.live_heap_mb(spark) if trace else math.nan
        written, inputs = wl.written_and_input()
        if events is not None:
            events.set(True)  # registry's traced run covers more after the loop
        wl.finish()
    finally:
        try:
            if inputs_job is not None:
                inputs_job.close()
            rss.stop()
            if events is not None:
                events.close()
        finally:
            if spark is not None:
                common.stop_session(spark)

    lat = [dt for _k, _l, dt in rec.latencies]
    s = common.summarize(lat)
    e2e = {
        "setup_s": setup_s,
        "op_p50_ms": s["p50"] * 1000,
        "op_tail_ms": s["tail"] * 1000,
        # time inside the operations only, not the benchmark's own
        # input generation and checks between them
        "ops_per_s": len(lat) / sum(lat) if lat else math.nan,
        "write_amp": written / inputs if inputs else float("nan"),
    }
    layers = {
        "session.start_s": rec.timers["session.start_s"],
        "setup.work_s": rec.timers["setup.work_s"],
        "op.n": s["n"],
        "op.tail_pct": s["tail_pct"],
        "mem.peak_rss_mb": rss.peak_mb,
        "mem.live_heap_mb": live_mb,
        "spark.gc_ms": gc_ms,
        "state.bytes_written": written,
    }
    report = {}
    if trace:
        lat_on = [dt for dt, on in zip(lat, rec.traced) if on]
        lat_off = [dt for dt, on in zip(lat, rec.traced) if not on]
        on_p50 = common.summarize(lat_on)["p50"] * 1000
        layers["trace.op_p50_ms"] = on_p50
        layers["trace.overhead_pct"] = 100.0 * (
            on_p50 / (common.summarize(lat_off)["p50"] * 1000) - 1.0)
        spark_m, per_group = common.spark_layer_metrics(
            common.read_event_log(dirs.path("events")), wall0, wall1,
            len(lat_on))
        layers.update(spark_m)
        report = wl.report(per_group)
        # a layer the workload never calls reads 0
        for k in metric_units("per_layer"):
            if k not in layers:
                layers[k] = report.pop(k, 0.0)
        report.update(
            (k, v) for k, v in spark_m.items()
            if k not in metric_units("per_layer")
        )
        report.update(wl.counts())
        report["setup.warm_s"] = rec.timers.get("setup.warm_s", 0.0)
        report["setup.inputs_s"] = t_inputs
    return e2e, layers, report, rec


def fmt(v) -> str:
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=WORKLOADS, required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "trialstreamer_spark", "__init__.py")):
        log(f"no trialstreamer_spark package under {ROOT}: run from a checkout root")
        return 2
    os.makedirs(os.path.join(ROOT, common.STATE_DIR), exist_ok=True)
    # a terminated run still unwinds, stopping the JVM and the input child
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    common.become_subreaper()
    dirs = common.RunDirs.create(ROOT)
    try:
        e2e, layers, report, rec = measure(args, dirs)
    finally:
        common.reap_children()
        dirs.remove()
    chosen = metric_units("per_layer" if args.trace else "end_to_end")
    values = layers if args.trace else e2e
    unmeasured = [k for k in chosen
                  if not math.isfinite(values.get(k, math.nan))]
    if unmeasured:  # JSON has no NaN; a metric that could not be had fails the run
        rec.attempted += 1
        rec.fail("metrics", f"not measured: {', '.join(unmeasured)}")
    error_rate = rec.failed / max(1, rec.attempted)
    print(f"workload {args.workload} seed {args.seed} trace {args.trace}: "
          f"{rec.attempted} attempted, {rec.failed} failed, "
          f"error_rate {error_rate:.6g}")
    for err in rec.errors:
        print(f"  error: {err}")
    if args.trace:
        for k in sorted(report):
            print(f"  {k:32s} {fmt(report[k])}")
    for k, unit in chosen.items():
        print(f"  {k:32s} {fmt(values.get(k, float('nan')))} {unit}")
    out = {
        "correct": rec.failed == 0,
        "attempted": rec.attempted,
        "failed": rec.failed,
        "metrics": {
            k: {"value": values[k] if k not in unmeasured else 0.0, "unit": unit}
            for k, unit in chosen.items()
        },
    }
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
