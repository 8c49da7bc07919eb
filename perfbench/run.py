"""Benchmark entry point.

    python3 perfbench/run.py --workload zip_ingest --seed 1 --seconds 8 --trace 0

Runs one workload from the root of a checkout: builds its seeded inputs,
starts Spark through the program's own ``session.get_spark``, measures for
``--seconds`` and checks every output. Human-readable lines go to stderr;
the last line of stdout is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics untraced, per-layer metrics
with ``--trace 1``). Scratch files stay under ``.perfbench/`` in the
checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import platform
import statistics
import subprocess
import sys
import time

T0 = time.perf_counter()

import probes  # noqa: E402
import workloads  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class Ctx:
    """Run-wide state handed to the workload."""

    def __init__(self, args):
        self.seed = args.seed
        self.root = ROOT
        self.work = os.path.join(ROOT, ".perfbench")
        self.cache = os.path.join(self.work, "cache")
        run_id = f"{args.workload}-{args.seed}-{int(time.time() * 1000)}"
        self.tracer = probes.Tracer(run_id, enabled=bool(args.trace))
        self.traced = False
        self.rss = probes.RssSampler()
        self.spark = None
        self.counters = None
        self.totals: dict[str, float] = {}
        self.traced_passes = 0
        self.setup: dict[str, float] = {}

    def log(self, msg: str) -> None:
        print(f"[perfbench {time.perf_counter() - T0:6.1f}s] {msg}", file=sys.stderr, flush=True)

    def set_traced(self, on: bool) -> None:
        """Spans and Spark counters on for a traced pass, off otherwise."""
        self.tracer.enabled = on
        if on and self.counters is None:
            self.counters = probes.SparkCounters(self.spark)
        elif not on and self.counters is not None:
            self.counters.close()
            self._fold(self.counters.totals)
            self.counters = None
        if on:
            self.traced_passes += 1
        self.traced = on

    def _fold(self, got: dict) -> None:
        for k, v in got.items():
            self.totals[k] = self.totals.get(k, 0.0) + v

    def after_build(self, df, group: str, layer: str) -> None:
        """Jobs launched while building the DataFrame, and its analysis time."""
        jobs = probes.job_group_counts(self.spark.sparkContext, group)["exec.jobs"]
        got = {f"{layer}.build_jobs": jobs}
        phases = df._jdf.queryExecution().tracker().phases().iterator()
        while phases.hasNext():
            kv = phases.next()
            got[f"catalyst.{kv._1()}_ms"] = kv._2().durationMs()
        self._fold(got)

    def after_op(self, group: str) -> None:
        """Jobs, stages, tasks, shuffle bytes and spill of the operation;
        waits (bounded) for the listener to report its queries."""
        if self.counters is not None:  # installed fresh for each traced pass
            self.counters.settle(1, timeout=2.0)
        self._fold(probes.job_group_counts(self.spark.sparkContext, group))


def run_record(workload: str, args) -> dict:
    from importlib.metadata import version

    code = hashlib.sha256()
    pkg = os.path.join(ROOT, "zip_to_parquet_spark")
    for d, _ds, fs in sorted(os.walk(pkg)):
        for f in sorted(fs):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    code.update(fh.read())
    try:
        commit = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                                text=True, timeout=10).stdout.strip() or None
    except OSError:
        commit = None
    return {
        "workload": workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)), "mem_total_kb": probes.mem_total_kb(),
        "python": platform.python_version(),
        **{pkg: version(pkg) for pkg in ("pyspark", "pyarrow", "duckdb")},
        "git_commit": commit, "code_sha256": code.hexdigest()[:16],
        "stray_java_at_start": probes.stray_java(), "load_at_start": os.getloadavg(),
    }


def _configure_env(work: str) -> None:
    """Spark sized from the box, scratch kept inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = f"{max(1, probes.mem_total_kb() // (4 << 20))}g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"


def setup(ctx, wl) -> float:
    """The run's one set-up cycle, cold: the JVM starts in ``get_spark``,
    then ``ensure_shipped`` and the workload's warm-up operations (their
    output checks excluded). Returns its seconds."""
    from zip_to_parquet_spark.runtime import ensure_shipped
    from zip_to_parquet_spark.session import get_spark

    with ctx.tracer.span("setup"):
        with ctx.tracer.span("session.get_spark") as start:
            spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        ctx.spark = spark
        with ctx.tracer.span("runtime.ensure_shipped") as ship:
            ensure_shipped(spark)
        enabled, ctx.tracer.enabled = ctx.tracer.enabled, False
        warm = wl.warm_up()
        ctx.tracer.enabled = enabled
    ctx.setup = {"session.start_s": start.seconds, "runtime.ship_s": ship.seconds,
                 "setup.warmup_s": warm}
    total = start.seconds + ship.seconds + warm
    ctx.log(f"setup: {total:.3f}s (get_spark {start.seconds:.3f}s, ship {ship.seconds:.3f}s, "
            f"warm-up {warm:.3f}s)")
    return total


def stop_jvm(ctx, timeout: float = 60.0) -> None:
    """End the JVM pyspark launched (it exits when its stdin closes) and
    wait until every process started under it, Python workers included,
    has exited."""
    from pyspark import SparkContext

    started = probes.descendants(os.getpid())[1:]
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=timeout)
    end = time.monotonic() + timeout
    while time.monotonic() < end:
        left = [p for p in started if probes.alive(p)]
        if not left:
            return
        time.sleep(0.1)
    ctx.log(f"WARNING: processes still running at exit: {left}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # The program under test must be importable from the checkout; fail
    # before doing any work when it is not.
    sys.path.insert(0, ROOT)
    try:
        import zip_to_parquet_spark.session  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: program not found in {ROOT}: {exc}", file=sys.stderr)
        return 2

    spec = _spec()
    ctx = Ctx(args)
    _configure_env(ctx.work)
    os.makedirs(ctx.cache, exist_ok=True)
    record = run_record(args.workload, args)
    if record["stray_java_at_start"]:
        ctx.log(f"WARNING: stray java processes at start: {record['stray_java_at_start']}")
    wl = workloads.WORKLOADS[args.workload](ctx)
    wl.prepare()

    # /proc sampling costs this process some CPU, so only traced runs sample.
    with ctx.rss if args.trace else contextlib.nullcontext():
        try:
            setup_s = setup(ctx, wl)
            ctx.tracer.enabled = False
            ctx.rss.reset()
            wl.loop(args.seconds, trace=bool(args.trace))
            peak_tree, peak_workers = ctx.rss.peak_tree, ctx.rss.peak_workers
            if args.trace:
                ctx.tracer.enabled = True
                wl.layers()
        finally:
            if ctx.spark is not None:
                ctx.spark.stop()
                stop_jvm(ctx)

    pass_s = statistics.median(wl.pass_times(False))
    if args.trace:
        n = max(1, ctx.traced_passes)
        layer = {k: v / n for k, v in ctx.totals.items()}  # per traced pass
        layer.update(ctx.setup)
        for name in ("zipsource.build", "plans.build"):
            layer[f"{name}_s"] = sum(
                s["end"] - s["start"] for s in ctx.tracer.spans if s["name"] == name) / n
        layer.update(wl.layer)
        layer["zipsource.worker_rss_mb"] = peak_workers / workloads.MB
        layer["proc.peak_rss_mb"] = peak_tree / workloads.MB
        layer["proc.cpu_s"] = statistics.median(p["cpu_s"] for p in wl.passes if not p["traced"])
        layer["trace.overhead_s"] = statistics.median(wl.pass_times(True)) - pass_s
        values, wanted = layer, spec["per_layer"]
    else:
        values = {"setup_s": setup_s, "pass_s": pass_s}
        values.update(wl.end_to_end(pass_s))
        wanted = spec["end_to_end"]
    # A probe that did not run reads 0 rather than dropping the metric.
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]} for m in wanted}

    report(ctx, wl, record, metrics, setup_s, args)
    ctx.log("done")
    result = {"correct": wl.failed == 0, "attempted": wl.attempted, "failed": wl.failed,
              "metrics": metrics}
    print(json.dumps(result))
    return 0


def report(ctx, wl, record, metrics, setup_s, args) -> None:
    """stderr table, run record and (traced) span file + layer table."""
    out_dir = os.path.join(ctx.work, "runs")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{args.workload}-s{args.seed}-t{args.trace}")
    record.update({"setup_s": setup_s, **ctx.setup, "passes": wl.passes,
                   "attempted": wl.attempted, "failed": wl.failed,
                   "fail_frac": wl.failed / max(1, wl.attempted), "metrics": metrics})
    with open(stem + ".json", "w") as f:
        json.dump(record, f, indent=1)
    for name, m in metrics.items():
        ctx.log(f"{name:40s} {m['value']:14.4f} {m['unit']}")
    ctx.log(f"{'fail_frac':40s} {record['fail_frac']:14.4f} ({wl.failed}/{wl.attempted})")
    ctx.log(f"passes: {len(wl.passes)}; steal per pass: {[p['steal_s'] for p in wl.passes]}")
    floor = metrics.get("floor.inflate_sha_mb_s", {}).get("value")
    if args.workload == "zip_ingest" and floor:
        mb_s = wl.end_to_end(statistics.median(wl.pass_times(False)))["mb_s"]
        cores = record["nproc"]
        ctx.log(f"gap: mb_s {mb_s:.1f} vs floor {floor:.1f} MB/s/core x {cores} cores"
                f" = {floor * cores:.1f} MB/s ({mb_s / (floor * cores):.1%} of the floor)")
    if args.trace:
        ctx.tracer.write(stem + ".spans.jsonl")
        lines = [f"{'span':34s} {'calls':>6s} {'total_s':>9s} {'self_s':>9s}"]
        for name, calls, total, self_s in sorted(ctx.tracer.table(), key=lambda r: -r[2]):
            lines.append(f"{name:34s} {calls:6d} {total:9.3f} {self_s:9.3f}")
        with open(stem + ".layers.txt", "w") as f:
            f.write("\n".join(lines) + "\n")
        for line in lines:
            ctx.log(line)


if __name__ == "__main__":
    sys.exit(main())
