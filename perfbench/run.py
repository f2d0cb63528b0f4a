"""Benchmark entry point: run one workload from a seed, check its outputs,
print its metrics.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. The run:

1. generates its inputs from ``--seed`` into a run-private directory
   under ``.perfbench/`` (with its own TMPDIR, Spark local dirs and
   checkpoint dirs, all removed at the end);
2. starts Spark on ``local[N]`` (N = usable CPUs, at most 3) and runs one
   warm-up pass, keeping its results for the checks (``setup_s`` is the
   time from process start until here);
3. runs whole rounds of the workload's operations until ``--seconds``
   have passed (``wall_s`` is the median of the rounds' times);
4. checks the outputs against DuckDB oracles or the corpus's ground
   truth, stops Spark and waits for its processes to end.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` the per-layer ones, and the spans are
written to ``.perfbench/traces/<workload>-seed<seed>.json``.
"""

from __future__ import annotations

import os
import time


def _process_age() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


T_START = time.perf_counter() - _process_age()

import argparse  # noqa: E402
import json  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

from workloads import WORKLOADS  # noqa: E402

# Spark task threads. One core of a 4-core host is left to the driver,
# JIT and GC threads.
MAX_CORES = 3


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def make_run_dir(root: str, workload: str, seed: int) -> dict[str, str]:
    """Run-private directories; TMPDIR points into them before anything
    asks ``tempfile`` for its directory, so index caches the program keeps
    in the temp dir start cold in every run."""
    import tempfile

    base = os.path.join(root, ".perfbench", f"run-{workload}-{seed}-{os.getpid()}")
    dirs = {k: os.path.join(base, k) for k in ("tmp", "local", "checkpoints", "data", "work", "warehouse")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    # The launcher JVM of spark-submit would write hsperfdata under /tmp.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    tempfile.tempdir = None
    dirs["base"] = base
    return dirs


def start_spark(dirs: dict[str, str], cores: int):
    from thundercats_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.local.dir": dirs["local"],
            # hsperfdata would go to /tmp whatever java.io.tmpdir says.
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": dirs["warehouse"],
            "spark.sql.streaming.checkpointLocation": os.path.join(dirs["checkpoints"], "streams"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(os.path.join(dirs["checkpoints"], "rdd"))
    return spark


def stop_spark(spark) -> None:
    """Stop Spark, end its JVM and wait until every process this run
    started (JVM, pyspark.daemon, workers) is gone."""
    from pyspark import SparkContext

    from spans import descendants, wait_gone

    pids = descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    wait_gone(pids)


def warm_up(workload, tracer) -> None:
    """One pass over the workload. An operation that raises is reported
    and left out of the checks; the measured rounds count it as failed."""
    for i, name in enumerate(workload.ops):
        try:
            with tracer.span(f"warmup:{name}"):
                workload.warm(i)
        except Exception:  # noqa: BLE001 - a failed operation is reported, the run goes on
            print(f"warm-up of {name} failed:\n{traceback.format_exc()}"[:4000], file=sys.stderr)


def run_rounds(workload, tracer, seconds: float, traced: bool) -> list[dict]:
    """Whole rounds until ``seconds`` have passed. Returns per round the
    spans of each operation and the count of operations that raised."""
    rounds = []
    t0 = time.perf_counter()
    while not rounds or time.perf_counter() - t0 < seconds:
        first = len(tracer.spans)
        ops, failed = [], 0
        for i, name in enumerate(workload.ops):
            try:
                with tracer.span(f"op:{name}", op=name) as s:
                    workload.run(i, traced)
            except Exception:  # noqa: BLE001 - a failed operation is counted, the run goes on
                failed += 1
                print(f"operation {name} failed:\n{traceback.format_exc()}"[:4000], file=sys.stderr)
            ops.append(s)
        rounds.append({"ops": ops, "spans": tracer.spans[first:], "failed": failed})
    return rounds


def end_to_end(rounds, setup_s: float) -> dict:
    walls = [sum(s.seconds for s in r["ops"]) for r in rounds]
    shuffle = [sum(s.stages["shuffle_bytes"] for s in r["spans"]) / 1e6 for r in rounds]
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "wall_s": {"value": statistics.median(walls), "unit": "s"},
        "shuffle_mb": {"value": statistics.median(shuffle), "unit": "MB"},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "thundercats_spark", "__init__.py")):
        print("perfbench: run from the root of a thundercats_spark checkout "
              "(no thundercats_spark package here)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    # A terminated run still stops Spark and removes its run directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    dirs = make_run_dir(root, args.workload, args.seed)
    try:
        return _run(args, root, dirs)
    finally:
        shutil.rmtree(dirs["base"], ignore_errors=True)


def _run(args, root: str, dirs: dict[str, str]) -> int:
    import datagen
    import layers
    import workloads
    from spans import PeakRss, Tracer

    spec = WORKLOADS[args.workload]
    if "queries" in spec:
        datagen.write_tables(args.seed, spec["sf"], dirs["data"])
    else:
        datagen.write_corpus(args.seed, dirs["data"])
    cores = max(1, min(MAX_CORES, len(os.sched_getaffinity(0))))
    # Memory is a per-layer figure; untraced runs do not pay for polling.
    peak = PeakRss().start() if args.trace else None
    spark = start_spark(dirs, cores)
    if peak:
        peak.jvm = spark.sparkContext._gateway.proc.pid
    try:
        tracer = Tracer(spark)
        if "queries" in spec:
            wl = workloads.QueryWorkload(spark, tracer, dirs["data"], spec["queries"])
        else:
            wl = workloads.Curation(spark, tracer, dirs["data"], dirs["work"])
        warm_up(wl, tracer)
        setup_s = time.perf_counter() - T_START
        if args.trace:
            tracer.instrument()
        rounds = run_rounds(wl, tracer, args.seconds, bool(args.trace))
        problems = wl.check()
    finally:
        peak_rss_mb = peak.stop() if peak else None
        stop_spark(spark)
    for p in problems:
        print(f"check failed: {p}", file=sys.stderr)
    for r in rounds:
        print("round:", " ".join(f"{s.attrs['op']}={s.seconds:.3f}" for s in r["ops"]), file=sys.stderr)
    if args.trace:
        metrics = layers.per_layer(rounds)
        metrics["peak_rss_mb"] = {"value": peak_rss_mb, "unit": "MB"}
        out = os.path.join(root, ".perfbench", "traces")
        os.makedirs(out, exist_ok=True)
        tracer.write(
            os.path.join(out, f"{args.workload}-seed{args.seed}.json"),
            {"workload": args.workload, "seed": args.seed, "cores": cores,
             "rounds": len(rounds), "per_op": layers.per_op(rounds)},
        )
    else:
        metrics = end_to_end(rounds, setup_s)
    attempted = sum(len(r["ops"]) for r in rounds)
    failed = sum(r["failed"] for r in rounds)
    print(json.dumps({
        "correct": not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
