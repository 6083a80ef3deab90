#!/usr/bin/env python3
"""Benchmark of record: one closed-loop client (one thread, each call
submitted after the previous one returns) on ``local[nproc]``.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Per run: set up once, from process start until the session is up and
the sources are registered (the inputs are generated from the seed
while the JVM launches); one cold run; the output checks, untimed, on
the cold run's outputs (they run the workload's calls again, so they
also warm the JVM); an unmeasured warm-up run where the checks warm
nothing; then warm runs for ``--seconds``, at least ``MIN_WARM``.
``--trace 1`` instead reports the per-layer metrics: it measures half
the window untraced, restarts the session with Spark's
event log on and a job group per call, measures the other half, and
joins the event log to the spans.  The last stdout line is the JSON
result; perfbench/README.md defines every metric.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from env import ROOT  # noqa: E402

sys.path.insert(1, str(ROOT))

MIN_WARM = 2
DEADLINE_S = 170
END_TO_END = {
    "setup_s": "s", "cold_run_s": "s", "run_s": "s", "query_p50_s": "s",
    "query_p90_s": "s", "stream_rows_per_s": "1/s", "batch_p50_s": "s",
    "batch_p90_s": "s", "peak_rss_mb": "MB",
}


def process_start_epoch() -> float:
    """When this process started, from /proc (10 ms resolution)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as fh:
        btime = next(int(line.split()[1]) for line in fh if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def p90(vals: list[float]) -> float:
    if len(vals) < 2:
        return vals[0]
    return statistics.quantiles(vals, n=10, method="inclusive")[8]


class Deadline(Exception):
    pass


def _on_alarm(signum, frame):
    raise Deadline(f"run exceeded {DEADLINE_S} s")


def parse_args(argv):
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sample-seed", type=int, default=0,
                    help="seed of the catalog query sample (the data comes from --seed)")
    ap.add_argument("--tamper", action="store_true",
                    help="corrupt one expected value, to show the checks fail")
    return ap.parse_args(argv)


class Bench:
    def __init__(self, args, work: Path):
        from workloads import WORKLOADS

        self.args = args
        self.work = work
        self.wl = WORKLOADS[args.workload](args.seed, work, args.sample_seed)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.spark = None
        self.window = (0.0, 0.0)  # the measured warm runs' interval

    def start(self, event_log: Path | None = None):
        from env import base_conf
        from planning_center_data_pipeline_spark.session import get_spark

        conf = base_conf(self.work)
        if event_log is not None:
            event_log.mkdir(parents=True, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log.as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark(app_name=f"perfbench-{self.args.workload}", extra_conf=conf)

    def setup(self, t0: float) -> tuple[float, float]:
        """Inputs from the seed (on a thread, while the JVM launches),
        the session, sources registered.  Returns (set-up seconds since
        ``t0``, session start seconds)."""
        gen_error: list[BaseException] = []

        def generate():
            try:
                self.wl.generate()
            except BaseException as exc:
                gen_error.append(exc)

        gen = threading.Thread(target=generate)
        gen.start()
        a = time.time()
        self.start()
        started = time.time() - a
        gen.join()
        if gen_error:
            raise gen_error[0]
        self.wl.register(self.spark)
        return time.time() - t0, started

    def one_run(self, tracer, run_id: str) -> float | None:
        n_ops = sum(s.op for s in tracer.spans)
        t0 = time.perf_counter()
        try:
            self.wl.run(self.spark, tracer, run_id)
            return time.perf_counter() - t0
        except Deadline:
            raise
        except Exception as exc:
            self.failed += 1
            self.errors.append(f"{run_id}: {type(exc).__name__}: {str(exc)[:300]}")
            traceback.print_exc(file=sys.stderr)
            return None
        finally:
            self.attempted += max(1, sum(s.op for s in tracer.spans) - n_ops)

    def warm_runs(self, tracer, seconds: float, label: str) -> list[tuple[str, float]]:
        """Warm runs until ``seconds`` have passed, at least ``MIN_WARM``,
        so that every process measures the same runs whatever the box's
        speed.  Sets ``self.window`` to their interval."""
        runs: list[tuple[str, float]] = []
        t0 = time.time()
        n = 0
        while n < MIN_WARM or time.time() - t0 < seconds:
            rid = f"{label}{n}"
            dur = self.one_run(tracer, rid)
            n += 1
            if dur is not None:
                runs.append((rid, dur))
        self.window = (t0, time.time())
        return runs

    def run_checks(self) -> None:
        n, fails = self.wl.check(self.spark, tamper=self.args.tamper)
        self.attempted += n
        self.failed += len(fails)
        self.errors += [f"check: {f}" for f in fails]


def job_intervals(spark, t0: float, t1: float) -> list[tuple[float, float]]:
    """(submission, completion) epoch seconds of the Spark jobs submitted
    in [t0, t1], read from the live status store (kept whether or not the
    UI runs)."""
    jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    out = []
    for i in range(jobs.size()):
        j = jobs.apply(i)
        sub, done = j.submissionTime(), j.completionTime()
        if sub.isEmpty() or done.isEmpty():
            continue
        s, e = sub.get().getTime() / 1e3, done.get().getTime() / 1e3
        if t0 <= s <= t1:
            out.append((s, e))
    return out


def busy_s(intervals: list[tuple[float, float]]) -> float:
    """Time covered by at least one of ``intervals``."""
    total, reach = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e > reach:
            total += e - max(s, reach)
            reach = e
    return total


def end_to_end(b: Bench, tracer, setup, cold, runs, rss, window) -> tuple[dict, dict]:
    """The end-to-end metrics, and the sample count behind each."""
    wl = b.wl
    warm = {rid for rid, _ in runs}
    ops = [s for s in tracer.spans if s.op and s.run in warm and s.end]
    run_s = statistics.median(d for _, d in runs)
    batches = [s.dur for s in tracer.spans if s.kind == "batch" and s.run in warm]
    if not batches:
        # no micro-batches: a batch is the Spark execution of one timed
        # call, the time while at least one job it submitted was running
        jobs = job_intervals(b.spark, *window)
        batches = [busy_s([j for j in jobs if s.start <= j[0] <= s.end]) for s in ops]
    drains = [s.dur for s in ops if s.kind == "stream"]
    # a drain is one query only where the workload has no other kind
    op_s = [s.dur for s in ops if s.kind != "stream"] or drains
    if drains:
        # replayed rows per second of drain, over every warm drain
        rate = wl.stream.n_rows * len(drains) / sum(drains)
    else:
        rate = wl.input_rows() / run_s
    rss.sample()
    samples = {"warm_runs": len(runs), "queries": len(op_s), "drains": len(drains),
               "batches": len(batches)}
    return {
        "setup_s": setup,
        "cold_run_s": cold,
        "run_s": run_s,
        "query_p50_s": statistics.median(op_s),
        "query_p90_s": p90(op_s),
        "stream_rows_per_s": rate,
        "batch_p50_s": statistics.median(batches),
        "batch_p90_s": p90(batches),
        "peak_rss_mb": rss.peak_total,
    }, samples


def main(argv=None) -> int:
    t_proc = process_start_epoch()
    args = parse_args(argv)
    if not (ROOT / "planning_center_data_pipeline_spark" / "session.py").is_file():
        print("perfbench: the engine package is not in this checkout", file=sys.stderr)
        return 2
    signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(DEADLINE_S)
    work = ROOT / ".perfbench" / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    out_dir = ROOT / ".perfbench" / "out"
    out_dir.mkdir(parents=True, exist_ok=True)
    tag = f"{args.workload}-s{args.seed}-trace{args.trace}"
    from env import RssSampler, cpu_ticks, describe_box, pin_environment, shutdown_jvm, steal_share
    from layers import PER_LAYER, traced_phase
    from spans import Tracer

    ticks = cpu_ticks()
    pinned = pin_environment(work)
    b = Bench(args, work)
    rss = RssSampler()
    try:
        setup, session_start = b.setup(t_proc)
        phases = {"setup": setup}
        rss.start()
        tracer = Tracer()
        cold = b.one_run(tracer, "cold")
        if cold is None:
            raise RuntimeError("the cold run failed: " + "; ".join(b.errors[-3:]))
        phases["cold"] = time.time() - t_proc
        b.run_checks()
        phases["checks"] = time.time() - t_proc
        for i in range(b.wl.warmups):
            b.one_run(tracer, f"warmup{i}")
        phases["warmups"] = time.time() - t_proc
        seconds = args.seconds / 2 if args.trace else args.seconds
        runs = b.warm_runs(tracer, seconds, "warm")
        if not runs:
            raise RuntimeError("no warm run completed: " + "; ".join(b.errors[-3:]))
        metrics, samples = end_to_end(b, tracer, setup, cold, runs, rss, b.window)
        phases["warm"] = time.time() - t_proc
        tracer.dump(out_dir / f"{tag}.spans.jsonl")
        report = {"box": describe_box(work, b.spark), "pinned": pinned, "phases_s": phases,
                  "setup_s": setup, "cold_run_s": cold, "runs_s": runs, "samples": samples,
                  "end_to_end": dict(metrics)}
        if args.trace:
            layers, extra = traced_phase(
                b, seconds, metrics, session_start, out_dir / f"{tag}.traced-spans.jsonl"
            )
            report.update(extra)
            phases["traced"] = time.time() - t_proc
        rss.sample()
        if args.trace:
            layers["proc.jvm_rss_mb"] = rss.peak_jvm
            layers["proc.py_workers_rss_mb"] = rss.peak_workers
            report["per_layer"] = layers
    except Deadline as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 3
    finally:
        signal.alarm(0)
        rss.stop()
        shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
    phases["end"] = time.time() - t_proc
    report["box"]["cpu_steal_share"] = steal_share(ticks, cpu_ticks())
    report.update(attempted=b.attempted, failed=b.failed, errors=b.errors,
                  failed_frac=b.failed / max(1, b.attempted))
    (out_dir / f"{tag}.json").write_text(json.dumps(report, indent=1, default=str))
    chosen, units = (layers, PER_LAYER) if args.trace else (metrics, END_TO_END)
    for k, v in chosen.items():
        print(f"{k:34s} {v:14.6g} {units[k]}")
    print(f"{'failed_frac':34s} {report['failed_frac']:14.6g} ratio")
    for e in b.errors:
        print(f"  {e}", file=sys.stderr)
    print(json.dumps({
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in chosen.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
