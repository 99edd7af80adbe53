"""Benchmark command: one workload, one seed, one measurement.

    python3 perfbench/run.py --workload extract_read --seed 1 \\
        --seconds 6 --trace 0

Run from the root of a source checkout. The workload's inputs are
generated from ``--seed`` and materialized as parquet under
``.perfbench_work/`` (set-up, made three times: ``setup_s`` is the
session start plus the median materialization). The reference the
outputs are checked against is computed next, untimed. The timed part
is a closed loop on Spark ``local[min(4, nproc)]``: one client runs the
workload's jobs back to back for ``--seconds``, and checks the output
of every job it runs; timings are medians over the iterations, of which
there is at least one.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` starts the
session with Spark's event log on, runs one warm-up iteration, half the
time untraced and the other half traced (job groups and spans), writes the recorded spans to
``.perfbench_work/<workload>/spans.jsonl`` and prints the per-layer
metrics (medians over traced iterations) plus the tracing overhead:
the traced half's run_s against the untraced half's.
The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed``, ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
SETUP_REPS = 3
sys.path.insert(0, ROOT)


def _cap_threads(work: str) -> None:
    """Thread and temp-file caps for this process tree, set before the
    JVM or any worker starts: one BLAS/OpenMP/Arrow thread per Python
    process (pyarrow sizes its pool from OMP_NUM_THREADS), workers that
    import the package from this checkout, temp files in the checkout."""
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
                "NUMEXPR_NUM_THREADS"):
        os.environ[var] = "1"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")


def _log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr,
          flush=True)


def start_session(cores: int, work: str, event_log: str | None = None):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        # a fixed-size heap touched up front: the JVM's resident size
        # does not depend on when its heap happened to grow
        .config("spark.driver.memory", "2g")
        .config("spark.driver.extraJavaOptions",
                f"-Xms2g -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp}"
                " -XX:-UsePerfData")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.eventLog.enabled", str(event_log is not None).lower())
    )
    if event_log is not None:
        os.makedirs(event_log, exist_ok=True)
        b = (
            b.config("spark.eventLog.dir", "file://" + event_log)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    # start one Python worker per core: part of a session being ready
    spark.range(cores, numPartitions=cores).mapInArrow(
        _identity, "id long").count()
    return spark


def _identity(batches):
    yield from batches


class Loop:
    """Closed-loop measurement of one workload for ``seconds``, after
    one untimed warm-up iteration if ``warmup``: a first iteration pays
    one-time costs (query compilation, kernel imports in each Python
    worker) that later ones do not. Every iteration's jobs are checked;
    ``attempted`` and ``failed`` count them, warm-up included."""

    def __init__(self, wl, tracer, seconds: float, warmup: bool) -> None:
        from perfbench.procstat import PeakRss, cpu_seconds

        pid = os.getpid()
        self.tracer = tracer
        self.walls: list[float] = []
        self.cpus: list[float] = []
        self.iterations = []
        self.attempted = self.failed = 0
        if warmup:
            with tracer.span("warmup"):
                self._count(wl.iteration(tracer))
        sampler = PeakRss(pid).start()
        t_end = time.perf_counter() + seconds
        while not self.walls or time.perf_counter() < t_end:
            # every iteration computes from its inputs: drop what an
            # earlier one left cached (operators persist lazily)
            wl.ctx.spark.catalog.clearCache()
            c0, t0 = cpu_seconds(pid), time.perf_counter()
            with tracer.span("iteration") as it:
                results = wl.iteration(tracer)
            self.walls.append(time.perf_counter() - t0)
            self.cpus.append(cpu_seconds(pid) - c0)
            self.iterations.append(it)
            self._count(results)
        self.peak_rss_mb = sampler.stop()

    def _count(self, results) -> None:
        self.attempted += len(results)
        for name, ok in results:
            if not ok:
                self.failed += 1
                _log(f"check failed: {name}")

    @property
    def run_s(self) -> float:
        return statistics.median(self.walls)

    def span_median(self, name: str) -> float:
        """Median wall of the span ``name`` over the timed iterations."""
        walls = [sp.wall_s for it in self.iterations
                 for sp in self.tracer.subtree(it) if sp.name == name]
        return statistics.median(walls) if walls else 0.0


def main(argv=None) -> int:
    from perfbench.metrics import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size factor (self-tests use a tiny one)")
    a = p.parse_args(argv)

    work = os.path.join(WORK, a.workload)
    shutil.rmtree(work, ignore_errors=True)
    _cap_threads(work)
    # the program under test must come from this checkout
    import pdf_parser_python_spark

    if not os.path.abspath(pdf_parser_python_spark.__file__).startswith(
            ROOT + os.sep):
        raise SystemExit("pdf_parser_python_spark is not in this checkout")

    from perfbench import trace
    from perfbench.metrics import END_TO_END
    from perfbench.workloads import WORKLOADS as CLASSES
    from perfbench.workloads import Context

    cores = max(1, min(4, len(os.sched_getaffinity(0))))
    log_dir = os.path.join(work, "eventlog") if a.trace else None
    t0 = time.perf_counter()
    spark = start_session(cores, work, event_log=log_dir)
    session_s = time.perf_counter() - t0
    gateway = spark.sparkContext._gateway
    try:
        ctx = Context(spark, a.seed, a.scale, cores, work, bool(a.trace))
        wl = CLASSES[a.workload](ctx)
        reps = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.setup()
            reps.append(time.perf_counter() - t0)
        _log(f"session {session_s:.2f}s, setup reps {reps}")
        t0 = time.perf_counter()
        checks = wl.reference()
        _log(f"reference {time.perf_counter() - t0:.2f}s")
        for name, ok, detail in checks:
            if not ok:
                _log(f"check failed: {a.workload}/{name}: {detail}")
        attempted = len(checks)
        failed = sum(not ok for _, ok, _ in checks)

        seconds = a.seconds / 2 if a.trace else a.seconds
        # a run measures the session's first jobs, one-time costs and
        # all (a batch job pays them once per session); a traced run
        # warms its untraced half, so that the two halves compare
        plain = Loop(wl, trace.Tracer(spark.sparkContext, False), seconds,
                     warmup=bool(a.trace))
        attempted += plain.attempted
        failed += plain.failed
        _log(f"untraced iterations {[round(w, 3) for w in plain.walls]}")
        if not a.trace:
            values = {
                "run_s": plain.run_s,
                "docs_per_s": wl.docs / plain.run_s,
                "cpu_s": statistics.median(plain.cpus),
                "peak_rss_mb": plain.peak_rss_mb,
                "ok_frac": 1.0 - failed / attempted,
                "setup_s": session_s + statistics.median(reps),
            }
            metrics = {k: (values[k], END_TO_END[k][0]) for k in END_TO_END}
        else:
            tracer = trace.Tracer(spark.sparkContext, True)
            # warmed by the untraced half
            traced = Loop(wl, tracer, seconds, warmup=False)
            attempted += traced.attempted
            failed += traced.failed
            _log(f"traced iterations {[round(w, 3) for w in traced.walls]}")
            spark.stop()
            tracer.dump(os.path.join(work, "spans.jsonl"))
            metrics = layer_metrics(
                wl, traced, plain,
                trace.EventLog(trace.event_log_file(log_dir)),
                failed / attempted)
    finally:
        spark.stop()
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)

    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


def layer_metrics(wl, traced: Loop, plain: Loop, log,
                  failed_frac: float) -> dict:
    """Median over traced iterations of every per-layer metric (layers a
    workload does not run report 0), the tracing overhead, the run's
    failed_frac, and the metrics of the untraced half that apply to
    some workloads only."""
    from perfbench import trace
    from perfbench.metrics import PER_LAYER
    from perfbench.workloads import spark_metrics

    tracer = traced.tracer
    at = trace.Attribution(log, tracer.spans)
    per_it = []
    for it in traced.iterations:
        m = dict.fromkeys(PER_LAYER, 0.0)
        m.update(spark_metrics(at, {sp.id for sp in tracer.subtree(it)}))
        m.update(wl.layers(at, tracer, it))
        per_it.append(m)
    unknown = set(per_it[0]) - set(PER_LAYER)
    if unknown:
        raise KeyError(f"metrics missing from perfbench.metrics: {unknown}")
    out = {k: statistics.median(m[k] for m in per_it) for k in PER_LAYER}
    out.update({
        "spans_per_s": wl.spans / plain.run_s,
        "resume_s": plain.span_median("call:plans.lineage.run:resume"),
        "bench.traced_run_s": traced.run_s,
        "bench.trace_overhead_frac": traced.run_s / plain.run_s - 1.0,
        "failed_frac": failed_frac,
    })
    return {k: (out[k], PER_LAYER[k][0]) for k in PER_LAYER}


if __name__ == "__main__":
    sys.exit(main())
