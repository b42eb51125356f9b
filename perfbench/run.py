"""Benchmark entry point.

    python3 perfbench/run.py --workload lake_reads --seed 1 --seconds 15 --trace 0

Run from the root of a source checkout: the package is imported from
``./kartothek_spark``. One workload runs per process, so JIT, heap and
block-manager state never carry over between workloads. The run:

1. pins the Spark environment (cores, driver memory, local dirs under a
   temporary directory inside the checkout) and starts one session;
2. sets the workload up ``SETUP_REPS`` times into fresh roots and keeps
   the last (``setup_s`` is the median; the first set-up also pays the
   JVM's cold start);
3. runs one untimed warm-up round (one full pipeline on corpus_e2e);
4. runs a fixed number of rounds, closed loop, checking every result:
   as many as take ``--seconds`` at the workload's nominal round time;
5. with ``--trace 1``, runs the same number of seconds again with every
   public entry point wrapped in a span, then once more untraced, and
   reports per-layer metrics.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
SETUP_REPS = 3
TAIL_PCT = 75
DRIVER_MEMORY = "2g"


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _pin_environment(tmp: str) -> None:
    """Every Spark setting the benchmark fixes, set before the JVM starts."""
    cpus = len(os.sched_getaffinity(0))
    os.makedirs(os.path.join(tmp, "tmp"), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["TMPDIR"] = os.path.join(tmp, "tmp")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        # a fixed-size heap, so the JVM's resident set does not follow
        # heap-resizing decisions from run to run
        f"--driver-java-options '-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={os.path.join(tmp, 'tmp')}'",
        # keep every job and stage of a run in the status store
        "--conf spark.ui.retainedJobs=100000",
        "--conf spark.ui.retainedStages=100000",
        "--conf spark.ui.showConsoleProgress=false",
        "pyspark-shell",
    ])


def percentile(values, pct: float) -> float:
    if not values:
        return 0.0
    xs = sorted(values)
    k = (len(xs) - 1) * pct / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def _measure(wl, seconds: float) -> tuple[float, int]:
    """One measured phase; returns wall time and the index of the first
    sample of this phase. The round count is fixed by ``seconds``, not by
    the clock: rounds get faster as the JVM warms, so a clock-bounded
    phase would include one more, faster round whenever the host is fast
    enough, and the figures would jump by that round."""
    first = len(wl.samples)
    t0 = time.perf_counter()
    for _ in range(max(1, math.ceil(seconds / wl.round_s))):
        wl.round()
    return time.perf_counter() - t0, first


def interquartile_mean(values) -> float:
    """Mean of the middle half: a latency centre that, unlike the sample
    median, does not jump between the clusters a fixed query mix forms."""
    xs = sorted(values)
    cut = len(xs) // 4
    mid = xs[cut:len(xs) - cut]
    return sum(mid) / len(mid) if mid else 0.0


def op_latencies(samples) -> list[float]:
    """Latency of each operation: a read, or a whole corpus pipeline (the
    sum of its stages' latencies, without the checks between them)."""
    ops: dict[int, float] = {}
    for s in samples:
        ops[s.op] = ops.get(s.op, 0.0) + s.latency_s
    return list(ops.values())


def _op_metrics(samples, wall: float) -> dict:
    ops = op_latencies(samples)
    return {"op_iqm_s": interquartile_mean(ops), "ops_per_s": len(ops) / wall}


def main(argv=None) -> int:
    args = _args(argv)
    root_dir = os.getcwd()
    if not os.path.isdir(os.path.join(root_dir, "kartothek_spark")):
        print("perfbench: run from the root of a kartothek_spark checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, root_dir)
    sys.path.insert(0, HERE)
    import workloads  # noqa: E402 - needs HERE on sys.path

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    tmp = os.path.join(root_dir, ".perfbench_tmp", f"{args.workload}-{os.getpid()}")
    _pin_environment(tmp)
    spark = None
    try:
        t0 = time.perf_counter()
        from kartothek_spark.session import get_spark

        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        session_start_s = time.perf_counter() - t0
        result = run(spark, workloads, args, tmp, session_start_s)
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass
    print(json.dumps(result))
    return 0


def run(spark, workloads, args, tmp: str, session_start_s: float) -> dict:
    import spans

    tracer = spans.Tracer(spark.sparkContext)
    wl = workloads.WORKLOADS[args.workload](spark, tmp, args.seed, tracer)

    setup_times = []
    for rep in range(SETUP_REPS):
        root = os.path.join(tmp, f"setup{rep}")
        t = time.perf_counter()
        wl.setup(root)
        setup_times.append(time.perf_counter() - t)
        if rep:
            shutil.rmtree(os.path.join(tmp, f"setup{rep - 1}"), ignore_errors=True)
    wl.warmup()

    wall, first = _measure(wl, args.seconds)
    untraced = wl.samples[first:]
    e2e = _op_metrics(untraced, wall)
    e2e["setup_s"] = statistics.median(setup_times)
    e2e["space_amp"] = wl.space_amp()
    e2e["peak_rss_mb"] = spans.peak_rss_mb(spark)

    by_label: dict[str, list[float]] = {}
    for s in untraced:
        by_label.setdefault(s.label, []).append(s.latency_s)
    print(f"perfbench: {args.workload} seed={args.seed} ops={len(op_latencies(untraced))} "
          f"samples={len(untraced)} wall={wall:.2f}s "
          f"setup_runs={[round(x, 3) for x in setup_times]} median_s_by_label="
          f"{ {k: round(statistics.median(v), 3) for k, v in by_label.items()} }", file=sys.stderr)
    if wl.checksum_line():
        print(wl.checksum_line())

    if args.trace:
        metrics = traced_metrics(spark, wl, tracer, args, e2e, untraced, wall, session_start_s)
        units = spans.PER_LAYER_UNITS
    else:
        metrics = e2e
        units = E2E_UNITS
    for err in wl.errors:
        print(f"perfbench: {err}", file=sys.stderr)
    failed = sum(1 for s in wl.samples if not s.ok)
    return {
        "correct": failed == 0,
        "attempted": len(wl.samples),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


E2E_UNITS = {
    "op_iqm_s": "s", "ops_per_s": "1/s",
    "setup_s": "s", "space_amp": "ratio", "peak_rss_mb": "MB",
}


def traced_metrics(spark, wl, tracer, args, e2e, untraced, wall, session_start_s) -> dict:
    """Second phase with spans on; per-layer metrics plus the end-to-end
    names of the untraced phase broken out by operation kind."""
    import spans

    tracer.install()
    spans.install_observers(tracer)
    sj = spans.SparkJobs(spark.sparkContext)
    tracer.enabled = True
    t0_wall = time.time()
    try:
        twall, tfirst = _measure(wl, args.seconds)
    finally:
        tracer.enabled = False
        tracer.uninstall()
    t1_wall = time.time()
    traced = wl.samples[tfirst:]
    # untraced again: the JVM is still warming up after the first untraced
    # phase, so the overhead is taken against a phase run after the traced one
    awall, afirst = _measure(wl, args.seconds)
    after = _op_metrics(wl.samples[afirst:], awall)
    missing = [req for req in wl.spans if not tracer.fired(req)]
    if missing:
        raise SystemExit(f"perfbench: span coverage check failed on {wl.name}: "
                         f"no span recorded for {missing}")
    m = spans.layer_metrics(tracer, sj, t0_wall, t1_wall, twall, len(op_latencies(traced)))
    m["cube.build_s"] = getattr(wl, "cube_build_s", 0.0)
    m["spark.session_start_s"] = session_start_s
    m.update(_named_e2e(untraced, wall, wl.operation))
    traced_op = _op_metrics(traced, twall)["op_iqm_s"]
    untraced_op = after["op_iqm_s"]
    m["trace.overhead_ratio"] = traced_op / untraced_op - 1.0
    m["trace.overhead_s"] = traced_op - untraced_op
    m["trace.spans_n"] = float(len(tracer.spans))
    m.update(wl.counters)
    if "ops.clean_keep_ratio" in m:  # summed per pipeline run: report the mean
        m["ops.clean_keep_ratio"] /= max(1, tracer.count("ops.clean"))
    m["write.amp"] = m["write.bytes_written"] / wl.user_row_bytes if wl.user_row_bytes else 0.0
    return {k: m.get(k, 0.0) for k in spans.PER_LAYER_UNITS}


def _named_e2e(samples, wall, operation: str) -> dict:
    """The end-to-end quantities under their per-operation-kind names."""
    ops = op_latencies(samples)
    reads = ops if operation == "read" else []
    docs = sum(s.rows for s in samples) if operation == "stage" else 0
    failed = sum(1 for s in samples if not s.ok)
    return {
        "e2e.op_p75_s": percentile(ops, TAIL_PCT),
        "e2e.read_p50_s": statistics.median(reads) if reads else 0.0,
        "e2e.read_tail_s": percentile(reads, TAIL_PCT),
        "e2e.reads_per_s": len(reads) / wall,
        "e2e.corpus_docs_per_s": docs / wall,
        "e2e.failed_ratio": failed / max(len(samples), 1),
    }


def _stop(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
