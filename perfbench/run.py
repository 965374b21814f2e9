"""Benchmark driver: one seeded workload, one closed-loop client, local[4].

    python3 perfbench/run.py --workload serve --seed 1 --seconds 20 --trace 0

Prints one line per metric (name, value, unit, note) and, as the last line
of standard output, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` spans wrap every layer call, each span
carries Spark status-store counter deltas, and the metrics are the
per-layer ones (the span list goes to standard error as JSON).

All files live in a fresh directory under ``.perfbench_work/`` at the
checkout root, removed at exit; the JVM is stopped and waited for.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("serve", "corpus")
CORES = 4
PRIMARY = {"serve": "read", "corpus": "job"}


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    sys.dont_write_bytecode = True
    if not os.path.isfile(os.path.join(ROOT, "bharatmlstack_spark", "__init__.py")):
        print(f"perfbench: no bharatmlstack_spark package in {ROOT}", file=sys.stderr)
        return 2
    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # everything Spark, its Python workers and tempfile write stays in the
    # run directory; workers import the engine from the checkout root
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    # both JVMs (spark-submit's launcher and the gateway) keep their temp
    # files and perf data out of /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    sys.path[:0] = [ROOT, HERE]
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(work_root)
        except OSError:
            pass


def start_spark(work: str, trace: bool):
    from bharatmlstack_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        # a fixed-size heap: a growing one resizes on GC timing, and its
        # peak RSS spread 17-24 % from run to run
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions": "-Xms2g",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }
    if trace:
        # status-store entities are otherwise rewritten at most every 100 ms,
        # which would smear counters across span boundaries
        conf["spark.ui.liveUpdate.period"] = "0"
    spark = get_spark("perfbench", master=f"local[{CORES}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - any failure to exit: kill it
            proc.kill()
            proc.wait()


def run(args: argparse.Namespace, work: str) -> int:
    import spans
    import workloads

    t = time.perf_counter()
    spark = start_spark(work, bool(args.trace))
    session_start_s = time.perf_counter() - t
    try:
        counters = spans.SparkCounters(spark.sparkContext) if args.trace else None
        tracer = spans.Tracer(counters)
        wl = workloads.make(args.workload, spark, work, tracer, args.seed)
        wl.setup()
        warm = wl.warmup()
        setup_spans = tracer.spans
        tracer.spans = []
        setup_s = time.perf_counter() - T0

        gc_start = spans.jvm_gc_seconds(spark.sparkContext) if args.trace else 0.0
        t_start = time.perf_counter()
        deadline = t_start + args.seconds
        timed: list = []
        while time.perf_counter() < deadline:
            tracer.op = len(timed)
            t_op = time.perf_counter()
            try:
                timed.append(wl.step())
            except Exception:  # noqa: BLE001 - a failed operation is a result, not the end of the run
                traceback.print_exc()
                timed.append(workloads.OpResult("error", time.perf_counter() - t_op, 0, ["raised"], "error"))
        extras = wl.extras() if args.trace else {}
        if args.trace:
            gc_s = spans.jvm_gc_seconds(spark.sparkContext) - gc_start
            extras["jvm.gc_s"] = (gc_s / len(timed), "s")
        rss = spans.peak_rss_mb()
    finally:
        stop_spark(spark)

    if not any(r.kind == PRIMARY[args.workload] for r in timed):
        print("perfbench: no timed operation succeeded", file=sys.stderr)
        return 1
    results = warm + timed
    failed = [r for r in results if r.wrong]
    for r in failed:
        print(f"WRONG {r.kind}: " + "; ".join(r.wrong[:3]), file=sys.stderr)
    report = Report(args.workload, warm, timed, setup_s, session_start_s, rss, len(failed), len(results))
    if args.trace:
        metrics = report.per_layer(tracer, setup_spans, extras)
        print(json.dumps([s.as_dict() for s in setup_spans + tracer.spans]), file=sys.stderr)
    else:
        metrics = report.end_to_end()
    for line in report.lines:
        print(line)
    print(
        json.dumps(
            {
                "correct": not failed,
                "attempted": len(results),
                "failed": len(failed),
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


class Report:
    """Turns operation results and spans into metrics and printable lines."""

    def __init__(self, workload, warm, timed, setup_s, session_start_s, rss, n_failed, n_attempted):
        self.workload = workload
        self.warm = warm
        self.timed = timed
        self.setup_s = setup_s
        self.session_start_s = session_start_s
        self.rss = rss
        self.n_failed = n_failed
        self.n_attempted = n_attempted
        self.lines: list[str] = []
        self.op_seconds = sum(r.seconds for r in timed)

    def line(self, name: str, value, unit: str, note: str = "") -> None:
        v = f"{value:.6g}" if isinstance(value, float) else str(value)
        self.lines.append(f"{name:<44} {v:>14} {unit:<8} {note}".rstrip())

    def latencies(self, kind: str) -> list[float]:
        return [r.seconds for r in self.timed if r.kind == kind]

    def end_to_end(self) -> dict[str, tuple[float, str]]:
        from spans import median, tail

        rows = sum(r.rows for r in self.timed)
        throughput = rows / self.op_seconds
        self.line("setup_s", self.setup_s, "s", "process start to first timed operation")
        for r in self.warm:
            self.line(f"  warm-up {r.op}_s", r.seconds, "s", "untimed, inside setup_s")
        for kind in ("read", "write", "job"):
            lat = self.latencies(kind)
            if not lat:
                warm = [r.seconds for r in self.warm if r.kind == kind]
                if warm:
                    self.line(f"{kind}_p50_s", median(warm), "s", f"set-up only: n={len(warm)} first calls, one per kind")
                continue
            self.line(f"{kind}_p50_s", median(lat), "s", f"n={len(lat)}")
            tl = tail(lat)
            if tl is None:
                self.line(f"{kind}_tail_s", "n/a", "s", f"n={len(lat)}: under 10 samples beyond p50")
            else:
                pct, value, beyond = tl
                self.line(f"{kind}_tail_s", value, "s", f"p{pct:g} of n={len(lat)}, {beyond} beyond")
        by_op: dict[str, list[float]] = {}
        for r in self.timed:
            by_op.setdefault(r.op, []).append(r.seconds)
        for op, lat in sorted(by_op.items()):
            self.line(f"  {op}.p50_s", median(lat), "s", "samples " + " ".join(f"{x:.3f}" for x in lat))
        unit_name = {"serve": "keys answered", "corpus": "documents processed"}[self.workload]
        self.line("throughput_rows_s", throughput, "rows/s", f"{rows} {unit_name} in {self.op_seconds:.3f} s of operations")
        self.line("error_rate", self.n_failed / self.n_attempted, "ratio", f"{self.n_failed}/{self.n_attempted} operations wrong or failed")
        self.line("peak_rss_mb", sum(self.rss), "MB", "VmHWM, driver + JVM: " + " + ".join(f"{x:.0f}" for x in self.rss))
        primary = self.latencies(PRIMARY[self.workload])
        return {
            "setup_s": (self.setup_s, "s"),
            "latency_p50_s": (median(primary), "s"),
            "throughput_rows_s": (throughput, "rows/s"),
            "peak_rss_mb": (sum(self.rss), "MB"),
        }

    def per_layer(self, tracer, setup_spans, extras) -> dict[str, tuple[float, str]]:
        from spans import COUNTER_KEYS, median

        self.line("session.start_s", self.session_start_s, "s")
        for s in setup_spans:
            if s.parent is None:
                self.line(f"setup:{s.name}_s", s.seconds, "s", counters_note(s.counters, s.seconds))
        p50 = median(self.latencies(PRIMARY[self.workload]))
        for name in sorted({s.name for s in tracer.spans}):
            ss = tracer.by_name(name)
            secs = [s.seconds for s in ss]
            jobs = median([s.counters["jobs"] for s in ss])
            tasks = median([s.counters["tasks"] for s in ss])
            busy = sum(s.counters["task_time_s"] for s in ss) / (sum(secs) * CORES)
            self.line(
                f"{name}_s",
                median(secs),
                "s",
                f"median of n={len(ss)}, {median(secs) / p50:.1%} of latency p50;"
                f" jobs {jobs:g}, tasks {tasks:g}, busy_share {busy:.3f}",
            )
        self.line("latency_p50_s (traced)", p50, "s", "minus the untraced value = tracing overhead")

        # Spark totals over the timed phase, per operation
        n_ops = len(self.timed)
        top = [s for s in tracer.spans if s.parent is None]
        total = {k: sum(s.counters[k] for s in top) for k in COUNTER_KEYS}
        retrieve = tracer.by_name("feature_store.retrieve.exec")
        metrics = {"session.start_s": (self.session_start_s, "s")}
        # median time per layer call: timed-phase spans, or the set-up ones
        # for the writes, which only run in set-up; 0 for a skipped layer
        for name in LAYER_SPANS:
            ss = tracer.by_name(name) or [s for s in setup_spans if s.name == name]
            metrics[f"{name}_s"] = (median([s.seconds for s in ss]) if ss else 0, "s")
        metrics.update({
            "spark.jobs": (total["jobs"] / n_ops, "count"),
            "spark.tasks": (total["tasks"] / n_ops, "count"),
            "spark.failed_tasks": (total["failed_tasks"], "count"),
            "spark.task_time_s": (total["task_time_s"] / n_ops, "s"),
            "spark.busy_share": (total["task_time_s"] / (self.op_seconds * CORES), "ratio"),
            "spark.shuffle_write_bytes": (total["shuffle_write_bytes"] / n_ops, "bytes"),
            "spark.spill_bytes": (total["spill_bytes"] / n_ops, "bytes"),
            "spark.gc_s": (total["gc_s"] / n_ops, "s"),
            "feature_store.retrieve.jobs": (median([s.counters["jobs"] for s in retrieve]) if retrieve else 0, "count"),
            "feature_store.retrieve.tasks": (median([s.counters["tasks"] for s in retrieve]) if retrieve else 0, "count"),
        })
        for key, unit in PER_LAYER_EXTRAS.items():
            metrics[key] = extras.get(key, (0, unit))
        printed = {line.split()[0] for line in self.lines}
        for k, (v, u) in metrics.items():
            if k not in printed:
                self.line(k, v, u)
        return metrics


# the spans whose median time is a per-layer metric (``<span>_s``)
LAYER_SPANS = (
    "feature_store.retrieve.plan",
    "feature_store.retrieve.exec",
    "expressions.plan",
    "pipeline.run.plan",
    "knn.score.plan",
    "knn.score.exec",
    "feature_store.persist",
    "feature_store.delete",
    "streaming.microbatch",
    "event_store.merge_trim",
    "dedup.simhash",
    "dedup.minhash",
    "lsh.ivf.fit",
    "lsh.ivf.search",
)

# layer figures the workloads report through ``extras`` (``run`` adds the
# JVM's GC time); a workload that does not touch a layer reports 0
PER_LAYER_EXTRAS = {
    "jvm.gc_s": "s",
    "feature_store.persist.write_amp": "ratio",
    "feature_store.persist.files_written": "count",
    "streaming.batches": "count",
    "event_store.merge_trim.rows_out_per_in": "ratio",
    "dedup.minhash.precision": "ratio",
    "lsh.ivf.probed_per_result": "ratio",
}


def counters_note(c: dict, seconds: float) -> str:
    return f"jobs {c['jobs']:g}, tasks {c['tasks']:g}, busy_share {c['task_time_s'] / (seconds * CORES):.3f}"


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
