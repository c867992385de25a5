"""Same-host benchmark of the KG engine: one process, one client, closed loop.

    python3 kgbench/run.py --workload cognify_build --seed 1 --seconds 10 --trace 0

``--trace 0`` prints every end-to-end metric; ``--trace 1`` runs the same
workload with outside-in tracing and prints every per-layer metric. The last
line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
Lines before it, prefixed ``#``, name the Spark configuration and each metric
with its unit for a human reader. See ``kgbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def _parse(argv):
    parser = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    parser.add_argument(
        "--tiny", action="store_true",
        help="self-test sizes (60 files, 400 events); not a measurement",
    )
    return parser.parse_args(argv)


def _start_spark(work: str):
    """local[nproc / 2] with the session factory's defaults, except the
    shuffle-partition count, which follows bench.py (one per task slot), and
    the per-run scratch roots.

    Half the cores, because a run keeps about one and a half cores busy
    beside its task threads (Python workers, the JVM's compiler and
    collector threads, this process): at local[nproc] the measured times
    followed the load of other tenants of the host far more closely."""
    from cognee_spark.session import get_spark

    cores = max(1, len(os.sched_getaffinity(0)) // 2)
    return get_spark(
        app_name="kgbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp"},
    )


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def _peak_rss_mb(spark) -> float:
    """High-water resident set size of the driver JVM."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM in /proc status")


def _retained_heap_mb(spark) -> float:
    """Driver JVM heap still in use after a full collection: what the run
    left resident (cached or checkpointed blocks, status-store entries).
    The RSS high-water mark is not steady enough to gate on, because G1
    grows the committed heap differently from run to run."""
    import gc

    gc.collect()  # drop Python-side handles, so the JVM objects become garbage
    jvm = spark._jvm
    jvm.java.lang.System.gc()
    time.sleep(1)  # the ContextCleaner releases blocks of collected RDDs
    jvm.java.lang.System.gc()
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return heap.getUsed() / 2**20


def run(args, work: str) -> dict:
    from kgbench import metrics
    from kgbench.trace import NoTrace, Tracer
    from kgbench.workloads import WORKLOADS, Bench, end_to_end, per_layer

    workload = WORKLOADS[args.workload]()
    started = time.perf_counter()
    spark = _start_spark(work)
    try:
        start_s = time.perf_counter() - started
        tracer = Tracer(spark) if args.trace else NoTrace()
        bench = Bench(spark, work, args.seed, tracer, args.tiny)
        bench.layer["session.start_s"] = start_s
        workload.setup(bench)
        setup_s = time.perf_counter() - started

        measured = time.perf_counter()
        while True:
            with tracer.span("harness.unit"):
                workload.unit(bench)
            if time.perf_counter() - measured >= args.seconds:
                break
        if args.trace:
            workload.extras(bench)
            bench.layer["session.peak_rss_mb"] = _peak_rss_mb(spark)
            values = per_layer(bench, workload, [n for n, _, _ in metrics.PER_LAYER])
        else:
            values = end_to_end(bench, workload, setup_s, _retained_heap_mb(spark))
        conf = dict(spark.sparkContext.getConf().getAll())
    finally:
        _stop_spark(spark)

    print("# spark conf " + json.dumps(conf, sort_keys=True))
    if args.trace:
        for name, seconds in sorted(tracer.self_times(lambda name: name).items()):
            print(f"# span {name} self {seconds:.3f} s")
    for name, value in values.items():
        alias = f"  ({workload.aliases[name]})" if name in workload.aliases else ""
        print(f"# {args.workload} {name} = {value:.6g} {metrics.UNITS[name]}{alias}")
    failed = sum(1 for r in bench.ops if r["error"])
    print(f"# {args.workload} failed_op_share = {failed}/{len(bench.ops)}")
    return {
        "correct": failed == 0 and bool(bench.ops),
        "attempted": len(bench.ops),
        "failed": failed,
        "metrics": {
            name: {"value": value, "unit": metrics.UNITS[name]}
            for name, value in values.items()
        },
    }


def main(argv=None) -> int:
    args = _parse(argv)
    # a terminated run still stops its JVM and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    if not (ROOT / "cognee_spark").is_dir():
        print(f"kgbench: no cognee_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from kgbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"kgbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    # per-run scratch: store roots, corpus, Spark local dir and temp files
    work_root = ROOT / ".kgbench_work"
    work = str(work_root / f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["COGNEE_SPARK_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    import tempfile

    tempfile.tempdir = os.path.join(work, "tmp")
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work_root.rmdir()
        except OSError:
            pass  # another run still uses it
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
