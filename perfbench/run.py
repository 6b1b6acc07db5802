"""End-to-end and per-layer benchmark of the codem_spark CLI.

    python3 perfbench/run.py --workload register|vcd --seed N --seconds S --trace 0|1

One process, one client thread, closed loop: each op is one CLI run
(``codem_spark.main.main``) on a session built with the program's defaults
(``get_spark(cpus=nproc)``), into a fresh output directory, and is checked
after it ends. A run generates its inputs from the seed, sets the session
up three times (the first start launches the JVM; the median is
``setup_s``), runs the cold op (the first op of the session; a per-layer
figure, ``cold_op_s``), then warm ops until ``--seconds`` have passed and
the workload's minimum count is reached (``op_p50_s``). The last stdout line
is the result object; the line before it holds the run's detail (run
conditions, the set-ups, every op with its latency and the CPU seconds the
whole process tree spent on it).

``--trace 1`` runs the same schedule with the warm ops traced and reports
per-layer metrics (``spans.py`` says how Spark jobs are attributed);
``trace.op_p50_s`` minus an untraced run's ``op_p50_s`` is the tracing
overhead. Each workload adds one piece of traced work: a ``translate_x10``
op on ``register``, one run of the 1.2M-point ``registration_1m`` scene on
``vcd``.

Everything is written under ``.perfbench_work/`` in the checkout and
removed at the end.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPEATS = 3
# metric -> span whose summed wall time it reports
SPAN_SECONDS = {
    "preprocess.s": "preprocess", "coarse.s": "coarse", "coarse.match_s": "coarse.match",
    "coarse.ransac_s": "coarse.ransac", "fine.s": "fine", "io.write_s": "io.write",
    "vcd.run_s": "vcd.run", "vcd.cluster_s": "vcd.cluster",
}
SPANS = tuple(SPAN_SECONDS.values())
END_TO_END = {"setup_s": "s", "op_p50_s": "s"}
# every per-layer metric of a traced run, with its unit; a layer the
# workload never enters reads 0
PER_LAYER = {
    "spark.jobs": "count", "spark.tasks": "count", "spark.exec_cpu_s": "s",
    "spark.python_wait_s": "s", "spark.gc_s": "s", "spark.shuffle_write_mb": "MiB",
    "spark.output_mb": "MiB", "driver_s": "s", "cache.persisted_after_op": "count",
    **{f"jobs.{s}": "count" for s in (*SPANS, "unattributed")},
    **dict.fromkeys(SPAN_SECONDS, "s"),
    "coarse.pairs": "count", "fine.iterations": "count", "fine.s_per_iter": "s",
    "vcd.change_points": "count", "vcd.clusters": "count",
    "trace.op_p50_s": "s", "cold_op_s": "s",
    "x10.op_s": "s", "x10.fine.s": "s", "x10.fine.iterations": "count",
    "reg1m.outcome": "count", "reg1m.preprocess_s": "s", "reg1m.coarse_s": "s",
    "reg1m.fine_s": "s", "reg1m.coarse_pairs": "count", "reg1m.coarse_scale": "ratio",
    "peak_rss_mb": "MiB",
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _steal_ticks() -> int:
    with open("/proc/stat") as fh:
        cpu = fh.readline().split()
    return int(cpu[8]) if len(cpu) > 8 else 0


def conditions() -> dict:
    return {"time": time.time(), "loadavg": list(os.getloadavg()), "steal_ticks": _steal_ticks()}


def source_digest() -> str:
    """sha1 over the program's sources: names the code measured when the
    checkout carries no git metadata."""
    h = hashlib.sha1()
    pkg = os.path.join(ROOT, "codem_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                h.update(os.path.relpath(os.path.join(d, f), ROOT).encode())
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def commit() -> str | None:
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def prepare_environment(work: str) -> None:
    """Python workers import the working tree's package (never
    dist/codem_spark.zip), and Spark, the JVM and Python keep their scratch
    files inside the checkout."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    sys.path.insert(0, ROOT)


def start_session(work: str):
    from codem_spark.session import get_spark

    spark = get_spark(cpus=nproc(), extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    })
    n = spark.sparkContext.defaultParallelism
    files = (spark.sparkContext.parallelize(range(n), n)
             .map(lambda _: __import__("codem_spark").__file__).collect())
    stray = [f for f in set(files) if not os.path.abspath(f).startswith(ROOT + os.sep)]
    if stray:
        raise RuntimeError(f"Python workers import codem_spark from {stray}, not {ROOT}")
    return spark


def stop_session(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Runner:
    def __init__(self, workload, work: str):
        self.wl = workload
        self.work = work
        self.records: list[dict] = []
        self.detail: dict = {}

    def op(self, spark, case: str, phase: str, tracer=None) -> dict:
        """One timed op, then its check and, when traced, its Spark jobs."""
        from spans import busy_seconds, last_job_id, spark_jobs, tree_usage

        out_dir = os.path.join(self.work, "ops", f"{len(self.records):03d}")
        shutil.rmtree(out_dir, ignore_errors=True)
        os.makedirs(os.path.dirname(out_dir), exist_ok=True)
        if tracer is not None:
            first_job = last_job_id(spark)
            tracer.reset()
        cpu0 = tree_usage()[1]
        since = time.time()
        t0 = time.perf_counter()
        error = None
        try:
            self.wl.run(spark, case, out_dir)
        except Exception as e:  # counted as a failed op
            error = f"{type(e).__name__}: {e}"
        latency = time.perf_counter() - t0
        until = time.time()
        rec = {"phase": phase, "case": case, "latency_s": latency,
               "cpu_s": tree_usage()[1] - cpu0, "traced": tracer is not None}
        if error is None:
            try:
                problems, facts = self.wl.check(case, out_dir, since)
                rec.update(facts)
            except (OSError, KeyError, ValueError) as e:  # unreadable output
                problems = [f"check: {type(e).__name__}: {e}"]
        else:
            problems = [error[:500]]
        rec["ok"] = not problems
        rec["problems"] = problems
        # read before clearCache(), which would hide a leaked persist
        rec["cache.persisted_after_op"] = spark.sparkContext._jsc.getPersistentRDDs().size()
        if tracer is not None:
            jobs, totals = spark_jobs(spark, first_job)
            rec["spark.jobs"] = len(jobs)
            rec.update(totals)
            rec["driver_s"] = latency - busy_seconds(jobs, since, until)
            owners = [tracer.owner(j.submitted_ms) for j in jobs]
            rec.update({f"jobs.{s}": owners.count(s) for s in (*SPANS, "unattributed")})
            rec.update({m: tracer.seconds(s) for m, s in SPAN_SECONDS.items()})
            rec.update(tracer.counts)
        spark.catalog.clearCache()
        shutil.rmtree(out_dir, ignore_errors=True)
        self.records.append(rec)
        return rec


def layer_metrics(traced: list[dict]) -> dict:
    """Per-layer medians over the traced warm ops."""
    out = {k: statistics.median(r.get(k, 0.0) for r in traced) for k in PER_LAYER}
    out["fine.s_per_iter"] = out["fine.s"] / out["fine.iterations"] if out["fine.iterations"] else 0.0
    out["trace.op_p50_s"] = statistics.median(r["latency_s"] for r in traced)
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "codem_spark", "__init__.py")):
        print(f"perfbench: no codem_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    import workloads
    from spans import RssSampler, Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    prepare_environment(work)
    wl = workloads.WORKLOADS[args.workload]()
    runner = Runner(wl, work)
    detail = runner.detail
    detail.update(workload=wl.name, seed=args.seed, trace=args.trace, nproc=nproc(),
                  start=conditions())
    t = time.perf_counter()
    os.makedirs(os.path.join(work, "inputs"))
    wl.prepare(args.seed, os.path.join(work, "inputs"))
    detail["input_generation_s"] = time.perf_counter() - t

    spark = None
    extra: dict = {}
    try:
        with RssSampler() as rss:
            session_s = []
            for _ in range(SETUP_REPEATS):
                t = time.perf_counter()
                if spark is not None:
                    spark.stop()
                spark = start_session(work)
                session_s.append(time.perf_counter() - t)
            cold = runner.op(spark, wl.cold_case, "cold")
            detail["session_start_s"] = session_s

            t_phase = time.perf_counter()
            measured = []
            with Tracer(workloads.all_targets() if args.trace else []) as tracer:
                while len(measured) < wl.warm_ops or time.perf_counter() - t_phase < args.seconds:
                    measured.append(runner.op(spark, wl.case, "warm",
                                              tracer if args.trace else None))
                peak_mb = rss.peak_bytes / 2**20
                if args.trace:
                    extra = wl.traced_extra(runner, spark, tracer)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's directory is still there
            pass

    from codem_spark.session import _use_shm_shuffle
    import numpy, pandas, pyspark

    detail.update(
        end=conditions(), shm_shuffle=_use_shm_shuffle(), commit=commit(),
        source_sha1=source_digest(),
        versions={"pyspark": pyspark.__version__, "numpy": numpy.__version__,
                  "pandas": pandas.__version__, "python": sys.version.split()[0]},
        peak_rss_mb=peak_mb, ops=runner.records,
    )
    failed = sum(not r["ok"] for r in runner.records)
    lat = [r["latency_s"] for r in measured]
    detail["op_samples"] = len(lat)
    if args.trace:
        metrics = layer_metrics(measured)
        metrics.update(extra, peak_rss_mb=peak_mb, cold_op_s=cold["latency_s"])
        units = PER_LAYER
    else:
        metrics = {
            "setup_s": statistics.median(session_s),
            "op_p50_s": statistics.median(lat),
        }
        units = END_TO_END
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps({
        "correct": failed == 0, "attempted": len(runner.records), "failed": failed,
        "metrics": {k: {"value": float(metrics.get(k, 0.0)), "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
