"""sparkgraph benchmark: one seeded workload per run, one JSON line out.

    python3 perfbench/run.py --workload codegraph --seed 1 --seconds 30 --trace 0

Run from the root of a source checkout; the engine is imported from there.
Inputs are generated from ``--seed`` and written to parquet under
``.perfbench_data/`` before anything is timed. A run starts the engine
several times to time set-up (``setup_s``), runs one cold repetition
(``first_job_s``), then warm repetitions until ``--seconds`` are used, each
on freshly built plans, and checks every repetition's outputs against the
oracles. ``--trace 1`` interleaves traced repetitions, which read Spark's
counters at every span and yield the per-layer metrics; the spans are
written to ``.perfbench_data/traces/``. The last line of stdout is
``{"correct", "attempted", "failed", "metrics"}``.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(ROOT, ".perfbench_data")
CORES = 4
SETUPS = 2  # set-ups timed per run; all but one in their own process
MIN_REPS = {False: 2, True: 3}  # cold + warm (+ traced) repetitions at least


def _environment() -> None:
    """Keep every file the engine writes inside the checkout and pin the
    engine's defaults: ``local[4]``, no ad-hoc conf from the caller."""
    tmp = os.path.join(DATA, "tmp")
    local = os.path.join(DATA, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    for var in ("SPARK_GRAFT_EXTRA_CONF", "SPARK_GRAFT_SHUFFLE_PARTITIONS", "SPARK_GRAFT_DRIVER_MEM"):
        os.environ.pop(var, None)
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        SPARK_GRAFT_LOCAL_DIR=local,
        SPARK_GRAFT_CPUS=str(CORES),
        PYSPARK_PYTHON=sys.executable,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, HERE, os.environ.get("PYTHONPATH")])),
    )
    sys.path[:0] = [ROOT, HERE]


def start_engine():
    from sparkgraph.session import get_spark

    return get_spark("perfbench", master=f"local[{CORES}]")


def stop_engine(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def setup_probe() -> None:
    """Child process: time imports + engine start exactly as the main run
    does, print the seconds, stop."""
    import workloads  # noqa: F401  (same imports as the main run)

    spark = start_engine()
    print(time.perf_counter() - T_START, flush=True)
    stop_engine(spark)


def time_setups(n: int) -> list[float]:
    out = []
    for _ in range(n):
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--setup-probe"],
            cwd=ROOT, capture_output=True, text=True, timeout=150,
        )
        if proc.returncode != 0:
            raise RuntimeError(f"set-up probe failed:\n{proc.stderr[-2000:]}")
        out.append(float(proc.stdout.strip().splitlines()[-1]))
    return out


def measure(workload, tracer, seconds: float, trace: bool):
    """Cold repetition, then warm ones until ``seconds`` are used (at least
    ``MIN_REPS``). Traced runs alternate traced and untraced warm
    repetitions. A repetition that raises ends the measurement: the calls
    it made count as attempted, the one that raised as failed. Returns
    (summaries, attempted, failed)."""
    from metrics import median, ops, rep_summary
    from workloads import Rep

    summaries, attempted, failed = [], 0, 0
    t0 = time.perf_counter()
    k = 0
    while True:
        rep = Rep(run_id=f"{workload.name}-seed{workload.seed}-rep{k}", traced=trace and k % 2 == 1)
        tracer.run_id, tracer.counting = rep.run_id, rep.traced
        try:
            t = time.perf_counter()
            workload.rep(rep, tracer)
            rep.job_s = time.perf_counter() - t
            tracer.counting = False
            if rep.after is not None:
                rep.after()
            bad = workload.check(rep)
        except Exception:
            traceback.print_exc()
            return summaries, attempted + max(ops(tracer.rep_spans(rep.run_id)), 1), failed + 1
        spans = tracer.rep_spans(rep.run_id)
        attempted += ops(spans)
        failed += len(bad)
        for name in bad:
            print(f"perfbench: check failed: {name} ({rep.run_id})", file=sys.stderr)
        summaries.append(rep_summary(rep, spans, CORES))
        rep.release()
        print(
            f"perfbench: {rep.run_id} traced={rep.traced} job_s={rep.job_s:.3f} "
            f"pagerank_supersteps_per_s={summaries[-1]['pagerank_supersteps_per_s']:.3f}",
            file=sys.stderr,
        )
        # start every repetition from a collected heap: dropped frames free
        # their cached blocks, and no repetition inherits the previous
        # one's garbage
        gc.collect()
        workload.spark.sparkContext._jvm.System.gc()
        k += 1
        warm = [x["job_s"] for x in summaries[1:]] or [summaries[0]["job_s"]]
        if k >= MIN_REPS[trace] and time.perf_counter() - t0 + median(warm) > seconds:
            return summaries, attempted, failed


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--setup-probe", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "sparkgraph", "__init__.py")):
        print(f"perfbench: no sparkgraph package under {ROOT}", file=sys.stderr)
        return 2
    _environment()
    if args.setup_probe:
        setup_probe()
        return 0

    import metrics
    import workloads
    from spans import Tracer, jvm_pid, peak_rss_mb

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: --workload must be one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    import_s = time.perf_counter() - T_START
    setups = time_setups(SETUPS - 1)
    t = time.perf_counter()
    spark = start_engine()
    setups.append(import_s + time.perf_counter() - t)
    try:
        workload = workloads.WORKLOADS[args.workload](spark, DATA, args.seed)
        tracer = Tracer(spark)
        summaries, attempted, failed = measure(workload, tracer, args.seconds, bool(args.trace))
        rss = peak_rss_mb(jvm_pid(spark))
        if args.trace:
            tracer.write(os.path.join(DATA, "traces", f"{args.workload}-seed{args.seed}.json"))
    finally:
        stop_engine(spark)
    if args.trace:
        result = metrics.per_layer(summaries)
    else:
        result = metrics.end_to_end(summaries, setups, rss, attempted, failed)
    print(
        f"perfbench: {args.workload} seed={args.seed} repetitions={len(summaries)} "
        f"setups={[round(x, 3) for x in setups]}",
        file=sys.stderr,
    )
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": result,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
