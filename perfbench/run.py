"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload pit_features --seed 1 --seconds 10 --trace 0

Run from the repository root. The run starts a local Spark session sized
from the box and sets up three times (session start plus input generation
from ``--seed``), then runs one warm-up iteration; ``setup_s`` is the
median set-up plus the warm-up. It then repeats timed iterations for
``--seconds``, at least three, with a run of a fixed plain-PySpark
reference job before the first and after each one, and reports medians
and ``*_rel``: the iterations' wall time over the reference runs' wall
time around them. Every iteration's output is checked.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` measures the
untraced iterations for half the time, then restarts the session with
Spark's event log on, runs traced iterations for the other half,
attributes the logged jobs, stages and tasks to the benchmark's spans and
reports the per-layer metrics and the tracing overhead.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``
with the metrics ``BENCHMARK.json`` names; the line before it is the full
report with every metric, also written to ``.perfbench/reports/``.
Everything the run writes stays under ``.perfbench/`` in the repository
root, and the run deletes its own files before it exits.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import eventlog
import session
from spans import Spans, self_time
from workloads import WORKLOADS, reference_job

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3
WARMUPS = 1
MIN_ITERATIONS = 3
MIN_TRACED = 2

#: span names making up each phase. For near_dedup the "fit" phase is
#: candidate-pair generation and the "transform" phase is connected
#: components plus the count; its plan build is the pairs call.
PHASES = {"fit": ("fit", "pairs_build", "pairs_exec"),
          "transform": ("transform", "sink", "cc", "count")}
BUILD_SPANS = ("transform", "pairs_build")
OUTPUT_SPANS = ("sink", "count")

UNITS = {
    "setup_s": "s", "e2e_s": "s", "fit_s": "s", "transform_s": "s",
    "rows_per_s": "1/s", "e2e_rel": "ratio", "fit_rel": "ratio",
    "transform_rel": "ratio", "peak_rss_mb": "MB",
    "plans.build_s": "s", "plans.fit_jobs": "count",
    "plans.build_jobs": "count", "plans.exchanges": "count",
    "plans.window_nodes": "count", "plans.broadcast_exchanges": "count",
    "plans.python_exec_nodes": "count",
    "execute.jobs": "count", "execute.stages": "count",
    "execute.tasks": "count", "execute.executor_run_s": "s",
    "execute.executor_cpu_s": "s", "execute.gc_s": "s",
    "execute.shuffle_write_bytes": "bytes",
    "execute.shuffle_read_bytes": "bytes", "execute.spill_bytes": "bytes",
    "execute.task_max_over_median": "ratio", "execute.idle_core_s": "s",
    "execute.failed_tasks": "count", "execute.log_errors": "count",
    "fit.executor_cpu_s": "s", "fit.shuffle_write_bytes": "bytes",
    "sources.read_bytes": "bytes", "sources.bytes_written": "bytes",
    "sources.bytes_written_per_input_byte": "ratio",
    "sources.files_written": "count",
    "dedup.pairs_s": "s", "dedup.pairs_build_s": "s",
    "dedup.probe_jobs": "count", "dedup.pairs": "count",
    "dedup.pairs_per_shuffle_record": "ratio", "dedup.cc_s": "s",
    "dedup.cc_jobs": "count", "dedup.kept": "count",
    "trace.overhead_s": "s", "trace.span_coverage": "ratio",
}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size multiplier (the tests use tiny runs)")
    return p.parse_args(argv)


def _import_package():
    """The package under test must come from this checkout's source."""
    sys.path.insert(0, ROOT)
    import nvtabular_spark
    where = os.path.abspath(nvtabular_spark.__file__)
    if not where.startswith(ROOT + os.sep):
        raise ImportError(f"nvtabular_spark imported from {where}, "
                          f"not from {ROOT}")


class Run:
    """One workload in one process: set-ups, iterations, their spans and
    their outcomes."""

    def __init__(self, args, run_dir):
        self.run_dir = run_dir
        self.box = session.box()
        self.sizing = session.sizing(self.box)
        self.workload = WORKLOADS[args.workload](args.seed, args.scale)
        self.spans = Spans()
        self.outcomes = []          # (phase, iteration, checksum, problems)
        self.spark = None
        self.next_it = 0
        self.refs = {}              # iteration -> (reference before, after)

    def start(self, event_log_dir=None):
        if self.spark is not None:
            self.spark.stop()
        self.spark = session.start(self.run_dir, self.sizing, event_log_dir)

    def setup(self) -> dict:
        times = []
        for rep in range(SETUPS):
            t0 = time.time()
            self.start()
            self.workload.generate(self.spark,
                                   os.path.join(self.run_dir, f"data{rep}"),
                                   self.sizing["shuffle_partitions"])
            self.workload.open(self.spark)
            times.append(time.time() - t0)
            if rep:
                shutil.rmtree(os.path.join(self.run_dir, f"data{rep - 1}"))
        t0 = time.time()
        for _ in range(WARMUPS):
            self.iterate("warmup")
            self.reference()
        warm = time.time() - t0
        return {"setups_s": times, "warmup_s": warm}

    def measure(self, phase: str, seconds: float, min_its: int) -> list:
        """Iterate for ``seconds``, at least ``min_its`` times, with a run
        of the reference job before the first iteration and after each
        one; return the iteration ids run."""
        its, t0 = [], time.time()
        ref = self.reference()
        while len(its) < min_its or time.time() - t0 < seconds:
            it, before = self.iterate(phase), ref
            ref = self.reference()
            self.refs[it] = (before, ref)
            its.append(it)
        return its

    def iterate(self, phase: str) -> int:
        """Run and check one iteration; return its id."""
        it, self.next_it = self.next_it, self.next_it + 1
        try:
            o = self.workload.iterate(self.spark, self.spans, it,
                                      os.path.join(self.run_dir, "out"))
            self.outcomes.append((phase, it, o.checksum, o.problems))
        except Exception:  # an iteration that raises counts as failed
            traceback.print_exc(file=sys.stderr)
            self.outcomes.append((phase, it, None, ["raised"]))
        return it

    def reference(self) -> float:
        """Wall seconds of one run of the reference job."""
        t0 = time.perf_counter()
        reference_job(self.spark, self.sizing["shuffle_partitions"])
        return time.perf_counter() - t0

    def rel(self, iters, seconds) -> float:
        """``seconds(span)`` summed over the iteration spans ``iters``,
        over the summed means of the reference runs just before and just
        after each of them."""
        return (sum(seconds(s) for s in iters)
                / sum(statistics.mean(self.refs[s.iteration]) for s in iters))

    def failures(self, phases) -> tuple:
        """(attempted, failed) over the iterations of ``phases``. An
        iteration fails when it raised, failed a check, or its checksum
        differs from the first iteration of the run."""
        ref = next((c for _, _, c, _ in self.outcomes if c is not None), None)
        rows = [o for o in self.outcomes if o[0] in phases]
        return len(rows), sum(1 for o in rows if o[3] or o[2] != ref)

    def iterations(self, its):
        return [s for s in self.spans.records
                if s.name == "iteration" and s.iteration in its]

    def phase_s(self, it_span, names) -> float:
        return sum(c.duration for c in self.spans.children(it_span)
                   if c.name in names)

    def e2e(self, its, setup: dict, rss_mb: float) -> dict:
        iters = self.iterations(its)
        e2e = statistics.median(s.duration for s in iters)
        return {
            "setup_s": statistics.median(setup["setups_s"])
            + setup["warmup_s"],
            "e2e_s": e2e,
            "fit_s": statistics.median(
                self.phase_s(s, PHASES["fit"]) for s in iters),
            "transform_s": statistics.median(
                self.phase_s(s, PHASES["transform"]) for s in iters),
            "rows_per_s": self.workload.input_rows / e2e,
            "e2e_rel": self.rel(iters, lambda s: s.duration),
            "fit_rel": self.rel(
                iters, lambda s: self.phase_s(s, PHASES["fit"])),
            "transform_rel": self.rel(
                iters, lambda s: self.phase_s(s, PHASES["transform"])),
            "peak_rss_mb": rss_mb,
        }


def layers(run: Run, its, log_errors: int, untraced_e2e: float) -> dict:
    """Per-layer metrics: the median over traced iterations of each
    iteration's value."""
    iters = run.iterations(its)
    log = eventlog.parse(eventlog.app_path(
        os.path.join(run.run_dir, "events")))
    totals = eventlog.attribute(log, [
        s for it in iters for s in [it] + run.spans.descendants(it)])
    per_it = []
    for it in iters:
        kids = run.spans.children(it)

        def tot(names):
            t = eventlog.Totals()
            for s in [it] + kids:
                if names is None or s.name in names:
                    t.merge(totals[s.id])
            return t

        def count(name, key):
            return sum(c.counts.get(key, 0) for c in kids if c.name == name)

        every, fit = tot(None), tot(PHASES["fit"])
        exe = tot({s.name for s in [it] + kids} - set(PHASES["fit"]))
        plan = max(tot(OUTPUT_SPANS).plans, key=lambda p: p["nodes"],
                   default={})
        pairs_exec = tot(("pairs_exec",))
        pairs = count("pairs_exec", "pairs")
        per_it.append({
            "plans.build_s": run.phase_s(it, BUILD_SPANS),
            "plans.fit_jobs": fit.jobs,
            "plans.build_jobs": tot(BUILD_SPANS).jobs,
            "plans.exchanges": plan.get("exchanges", 0),
            "plans.window_nodes": plan.get("window_nodes", 0),
            "plans.broadcast_exchanges": plan.get("broadcast_exchanges", 0),
            "plans.python_exec_nodes": plan.get("python_exec_nodes", 0),
            "execute.jobs": exe.jobs,
            "execute.stages": exe.stages,
            "execute.tasks": exe.tasks,
            "execute.executor_run_s": exe.run_s,
            "execute.executor_cpu_s": exe.cpu_s,
            "execute.gc_s": exe.gc_s,
            "execute.shuffle_write_bytes": exe.shuffle_write_bytes,
            "execute.shuffle_read_bytes": exe.shuffle_read_bytes,
            "execute.spill_bytes": exe.spill_bytes,
            "execute.task_max_over_median": exe.max_over_median(),
            "execute.idle_core_s":
                it.duration * run.box["cpus"] - every.run_s,
            "execute.failed_tasks": every.failed_tasks,
            "fit.executor_cpu_s": fit.cpu_s,
            "fit.shuffle_write_bytes": fit.shuffle_write_bytes,
            "sources.read_bytes": exe.input_bytes,
            "sources.bytes_written": exe.output_bytes,
            "sources.bytes_written_per_input_byte":
                exe.output_bytes / exe.input_bytes if exe.input_bytes else 0,
            "sources.files_written": count("sink", "files_written"),
            "dedup.pairs_s": run.phase_s(it, ("pairs_build", "pairs_exec")),
            "dedup.pairs_build_s": run.phase_s(it, ("pairs_build",)),
            "dedup.probe_jobs": tot(("pairs_build",)).jobs,
            "dedup.pairs": pairs,
            "dedup.pairs_per_shuffle_record":
                pairs / pairs_exec.shuffle_write_records
                if pairs_exec.shuffle_write_records else 0,
            "dedup.cc_s": run.phase_s(it, ("cc",)),
            "dedup.cc_jobs": tot(("cc",)).jobs,
            "dedup.kept": count("count", "kept"),
            # the children's self times over the iteration's wall time
            "trace.span_coverage": sum(
                self_time(c, run.spans.children(c)) for c in kids)
            / it.duration,
        })
    m = {k: statistics.median(v[k] for v in per_it) for k in per_it[0]}
    # every iteration must be covered, so report the worst one
    m["trace.span_coverage"] = min(v["trace.span_coverage"] for v in per_it)
    m["execute.log_errors"] = log_errors
    m["trace.overhead_s"] = (statistics.median(s.duration for s in iters)
                             - untraced_e2e)
    return m


def span_self_times(run: Run, its) -> dict:
    """Median self time of each span name over the given iterations."""
    per_name = {}
    for it in run.iterations(its):
        for s in [it] + run.spans.descendants(it):
            per_name.setdefault(s.name, []).append(
                self_time(s, run.spans.children(s)))
    return {name: statistics.median(v) for name, v in per_name.items()}


def _declared(trace: int) -> list:
    """The metric names BENCHMARK.json declares for this mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def _with_units(metrics: dict) -> dict:
    return {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()}


def main(argv=None) -> int:
    args = _args(argv)
    try:
        _import_package()
        declared = _declared(args.trace)
    except (ImportError, OSError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(
        base, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    session.confine(run_dir, ROOT)
    run = Run(args, run_dir)
    try:
        setup = run.setup()
        # the JVM's resident set only grows, so read its peak after the
        # fixed number of warm-up iterations, not after as many timed ones
        # as the time allows
        rss_mb = session.peak_rss_mb()
        untraced = run.measure(
            "untraced", args.seconds / 2 if args.trace else args.seconds,
            MIN_TRACED if args.trace else MIN_ITERATIONS)
        e2e = run.e2e(untraced, setup, rss_mb)
        report = {"workload": args.workload, "seed": args.seed,
                  "box": run.box, "sizing": run.sizing,
                  "inputs": run.workload.sizes(), **setup,
                  "iterations_s": [s.duration
                                   for s in run.iterations(untraced)],
                  "references_s": [run.refs[i] for i in untraced],
                  "end_to_end": _with_units(e2e)}
        phases = ["untraced"]
        if args.trace:
            log_path = os.path.join(run_dir, "spark.log")
            offset = os.path.getsize(log_path)
            run.start(os.path.join(run_dir, "events"))
            run.workload.open(run.spark)
            run.iterate("warmup")
            traced = run.measure("traced", args.seconds / 2, MIN_TRACED)
            run.spark.stop()
            run.spark = None
            per_layer = layers(
                run, traced, eventlog.count_errors(log_path, offset),
                e2e["e2e_s"])
            report["per_layer"] = _with_units(per_layer)
            report["span_self_s"] = span_self_times(run, traced)
            report["traced_iterations_s"] = [
                s.duration for s in run.iterations(traced)]
            phases.append("traced")
        attempted, failed = run.failures(phases)
        _, warm_failed = run.failures(["warmup"])
        report["error_rate"] = failed / attempted
        report["failed_checks"] = [o for o in run.outcomes if o[3]][:10]
    finally:
        if run.spark is not None:
            run.spark.stop()
        session.shutdown_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)

    metrics = report["per_layer" if args.trace else "end_to_end"]
    os.makedirs(os.path.join(base, "reports"), exist_ok=True)
    with open(os.path.join(base, "reports", f"{args.workload}-seed"
                           f"{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps(report))
    print(json.dumps({
        "correct": failed == 0 and warm_failed == 0,
        "attempted": attempted, "failed": failed,
        "metrics": {k: metrics[k] for k in declared}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
