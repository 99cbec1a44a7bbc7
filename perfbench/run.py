"""Medallion ELT benchmark: one workload per invocation, one closed-loop caller.

    python3 perfbench/run.py --workload batch_medallion --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The program is imported from that checkout;
its inputs are generated from ``--seed`` (cached per seed under
``.perfbench_work/cache``), and every lake, checkpoint, temp file and event log
of the run lives under one scratch root, ``.perfbench_work/runs/<pid>``,
which is deleted at the end. The last stdout line is the JSON result; a
detail record (every counter, including ``host.probe_s``) goes to
``.perfbench_work/results/`` and to stderr.

Set-up (``setup_s``) = session build + input landing + the cold first op.
Then warm ops run back to back until ``--seconds`` of op time have been
measured (at least ``MIN_OPS``); ``op_p50_s`` is their median. Outputs are
checked after every op, outside the timed region.

``--trace 1`` builds the session with Spark's JSON event log on, alternates
plain and traced ops (event log, spans, job groups and wrapped public calls on
the traced ones only) and reports the per-layer metrics plus the tracing
overhead (``trace.overhead_pct``, traced against plain op medians, where the
plain ops run as in an untraced session).
"""

from __future__ import annotations

import argparse
import contextlib
import importlib
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"
PACKAGE = "movie_genre_data_pipeline_spark"
MIN_OPS = 2  # warm ops per run at the least; op_p50_s is their median
SUITE_FIRST = 1001  # op ids of suite passes, apart from the workload's own ops


class Bench:
    def __init__(self, args):
        self.seed = args.seed
        self.trace = bool(args.trace)
        self.cpus = len(os.sched_getaffinity(0))
        self.cache = WORK / "cache"
        self.root = WORK / "runs" / str(os.getpid())
        shutil.rmtree(self.root, ignore_errors=True)
        self.tmp, self.local, self.events = (self.root / d for d in ("tmp", "local", "events"))
        for d in (self.cache, self.tmp, self.local, self.events):
            d.mkdir(parents=True, exist_ok=True)
        # Everything the program and Spark write to temp space lands in the
        # scratch root, so leftovers can be counted after the JVM exits.
        os.environ["TMPDIR"] = str(self.tmp)
        os.environ["SPARK_LOCAL_DIRS"] = str(self.local)
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cpus)
        os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
        tempfile.tempdir = None
        self.spark = None
        self.tracer = None
        self.plain_ops: list[tuple[int, float]] = []

    def build_session(self):
        from movie_genre_data_pipeline_spark.session import build_session

        conf = {
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp}",
            "spark.sql.warehouse.dir": str(self.root / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.events.as_uri(),
                "spark.eventLog.compress": "false",  # the default codec needs zstandard
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = build_session(
            app_name="perfbench", master=f"local[{self.cpus}]",
            shuffle_partitions=self.cpus, extra_conf=conf,
        )
        return self.spark

    def import_tool(self, name: str):
        spec = importlib.util.spec_from_file_location(name, ROOT / "tools" / f"{name}.py")
        module = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(module)
        return module

    def jvm_memory(self) -> tuple[float, float]:
        jvm = self.spark._jvm
        pid = jvm.java.lang.ProcessHandle.current().pid()
        peak = 0.0
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    peak = int(line.split()[1]) / 1024
        jvm.java.lang.System.gc()
        rt = jvm.java.lang.Runtime.getRuntime()
        return peak, (rt.totalMemory() - rt.freeMemory()) / 2**20

    def host_probe(self) -> float:
        """A fixed shuffle plus a fixed Python loop; touches no program code,
        so its drift between runs is the host's."""
        from pyspark.sql import functions as F

        t = time.perf_counter()
        (self.spark.range(0, 2_000_000, numPartitions=self.cpus)
         .groupBy((F.col("id") % 1000).alias("k")).count()
         .write.format("noop").mode("overwrite").save())
        acc = 0
        for i in range(2_000_000):
            acc += i & 7
        return time.perf_counter() - t

    def stop(self) -> None:
        """Stop the session and the JVM, and wait until the JVM has exited."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits when its stdin closes
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None

    def leaked_entries(self) -> int:
        return sum(1 for d in (self.tmp, self.local) for _ in d.iterdir())


def install_wrappers(tracer) -> None:
    from workloads import WRAPPED

    for label, home, attr, importers in WRAPPED:
        mods = [importlib.import_module(f"{PACKAGE}.{m}") for m in (home, *importers)]
        tracer.wrap(mods, attr, label)


def closed_loop(bench, wl, first: int, seconds: float, min_ops: int):
    """Warm ops ``first``, ``first + 1``, ... of ``wl`` until ``seconds`` of op
    time and at least ``min_ops`` ops. Returns the plain and traced
    ``(op, seconds)`` lists, the failed op count and the check errors."""
    tracer = bench.tracer
    plain, traced, failed, errors = [], [], 0, []
    measured, n = 0.0, 0
    # The traced run alternates plain and traced ops and ends on a plain one,
    # so every traced op sits between two plain ones and a warm-up trend
    # cancels out of the overhead. Plain ops run without the event log and
    # the wrappers, as in an untraced run.
    while measured < seconds or n < min_ops or (bench.trace and n % 2 == 0):
        i = first + n
        wl.before_op(i)
        is_traced = bench.trace and n % 2 == 1
        t = time.perf_counter()
        try:
            with tracer.tracing(i) if is_traced else contextlib.nullcontext():
                with tracer.span("op"):
                    wl.op(i)
        except Exception:
            dt, errs = time.perf_counter() - t, [traceback.format_exc()]
        else:
            dt = time.perf_counter() - t
            try:
                errs = wl.check(i)
            except Exception:
                errs = [traceback.format_exc()]
        (traced if is_traced else plain).append((i, dt))
        measured += dt
        failed += bool(errs)
        errors += errs
        n += 1
    return plain, traced, failed, errors


def measure(bench, wl, seconds: float):
    """Set-up, then warm ops until ``seconds`` of op time. Returns the detail
    record, the traced op indices, the op count, failures and check errors."""
    import tracing

    wl.prepare()
    t0 = time.perf_counter()
    spark = bench.build_session()
    build_s = time.perf_counter() - t0
    bench.tracer = tracer = tracing.Tracer(spark)
    if bench.trace:
        install_wrappers(tracer)
    t1 = time.perf_counter()
    wl.land()
    land_s = time.perf_counter() - t1
    t2 = time.perf_counter()
    wl.op(0)
    warmup_s = time.perf_counter() - t2
    errors = wl.check(0)
    failed = int(bool(errors))

    min_ops = wl.TRACE_OPS if bench.trace else MIN_OPS
    plain, traced, f, errs = closed_loop(bench, wl, 1, seconds, min_ops)
    attempted, failed, errors = 1 + len(plain) + len(traced), failed + f, errors + errs
    suite = wl.suite if bench.trace else None
    if suite is not None:
        # The traced run of a workload with a suite pass runs it after its
        # own ops: a cold pass checked against the oracles, then warm passes.
        suite.prepare()
        suite.op(0)
        errs = suite.check(0)
        s_plain, s_traced, f, s_errs = closed_loop(bench, suite, SUITE_FIRST, 0.0, suite.TRACE_OPS)
        suite.traced_ops = [op for op, _ in s_traced]
        attempted += 1 + len(s_plain) + len(s_traced)
        failed += bool(errs) + f
        errors += errs + s_errs

    bench.plain_ops = plain
    peak_mb, heap_mb = bench.jvm_memory()
    detail = {
        "setup_s": build_s + land_s + warmup_s,
        "op_p50_s": statistics.median(dt for _, dt in plain),
        "op_s": [dt for _, dt in sorted(plain + traced)],
        "trace.traced_p50_s": statistics.median(dt for _, dt in traced) if traced else None,
        "session.build_s": build_s, "session.land_s": land_s, "session.warmup_s": warmup_s,
        "host.probe_s": bench.host_probe(),
        "jvm.peak_rss_mb": peak_mb, "jvm.heap_after_gc_mb": heap_mb,
    }
    return detail, [op for op, _ in traced], attempted, failed, errors


def per_layer(bench, wl, detail: dict, traced_ops: list[int]) -> dict:
    from workloads import layer_units, wrapper_layers

    tracer = bench.tracer
    tracer.attach_event_log(bench.events)
    metrics = {k: (detail[k], u) for k, u in (
        ("session.build_s", "s"), ("session.warmup_s", "s"), ("host.probe_s", "s"),
        ("jvm.peak_rss_mb", "MB"), ("jvm.heap_after_gc_mb", "MB"),
        ("scratch.leaked_entries", "count"))}
    # every layer is reported; 0 where this workload never reaches it
    metrics.update({k: (0, u) for k, u in layer_units().items()})
    metrics.update(wl.layers(tracer.spans, traced_ops))
    metrics.update(wrapper_layers(tracer.spans, traced_ops))
    overhead = (detail["trace.traced_p50_s"] / detail["op_p50_s"] - 1) * 100
    metrics["trace.overhead_pct"] = (overhead, "%")
    return metrics


def run(args) -> tuple[dict, dict, list[str]]:
    from workloads import WORKLOADS

    bench = Bench(args)
    wl = WORKLOADS[args.workload](bench)
    try:
        try:
            detail, traced_ops, attempted, failed, errors = measure(bench, wl, args.seconds)
        finally:
            bench.stop()
        detail["scratch.leaked_entries"] = bench.leaked_entries()
        if bench.trace:
            metrics = per_layer(bench, wl, detail, traced_ops)
            bench.tracer.dump(WORK / "traces" / f"{args.workload}-{args.seed}.json")
            detail.update({k: v for k, (v, _) in metrics.items()})
        else:
            metrics = {"setup_s": (detail["setup_s"], "s"), "op_p50_s": (detail["op_p50_s"], "s")}
    finally:
        shutil.rmtree(bench.root, ignore_errors=True)
    result = {
        "correct": not errors and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, detail, errors


def main() -> int:
    if not (ROOT / PACKAGE).is_dir():
        print(f"{PACKAGE}/ not found next to {HERE.name}/: run from a checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [str(HERE), str(ROOT)]
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=list(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    result, detail, errors = run(args)
    for e in errors[:20]:
        print(f"CHECK FAILED: {e}", file=sys.stderr)
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace, **detail}
    out = WORK / "results" / f"{args.workload}-{args.seed}-t{args.trace}-{os.getpid()}.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps(record))
    print(json.dumps(record), file=sys.stderr)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
