"""The engine's benchmark: one command per workload, seeded inputs, checked
outputs, one JSON result line.

    python3 perfbench/run.py --workload costar_serve --seed 1 --seconds 10 --trace 0

Run it from the repository root. ``--trace 0`` prints the end-to-end
metrics of ``BENCHMARK.json``; ``--trace 1`` prints its per-layer metrics
and writes the run's spans to ``.perfbench_work/spans-<workload>-<seed>.json``.
Workloads, metrics and the layer each metric belongs to are described in
``perfbench/METRICS.md``.

Everything the run writes stays under the working directory: the seeded
inputs and scratch space under ``.perfbench_work/``, and the engine's own
cold-built state under ``spark-warehouse/``, keyed by a corpus name unique
to the run and removed when it ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.getcwd()
WORKLOADS = ("costar_serve", "batch_mixed")
HEAP = "1g"


def _configure_env(work: str) -> None:
    """Keep every temporary file of the driver and its JVM inside the
    working directory, and size the local Spark session."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    cpus = min(4, os.cpu_count() or 4)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    os.environ["PYSPARK_PYTHON"] = sys.executable


def _registry() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _metrics(values: dict, specs: list[dict]) -> dict:
    missing = [s["name"] for s in specs if s["name"] not in values]
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    return {
        s["name"]: {"value": float(values[s["name"]]), "unit": s["unit"]} for s in specs
    }


def _stop(spark) -> None:
    """Stop the session, then end the JVM and wait for it: the gateway
    process exits when its stdin closes."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _run(args, work: str, work_root: str):
    import instrument
    from context import Context

    t0 = time.perf_counter()
    from imdb_mapreduce_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        master=f"local[{os.environ['SPARK_GRAFT_CPUS']}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            # a fixed-size heap (initial = max): the JVM's resident size
            # then does not depend on when its collector grew the heap
            "spark.driver.extraJavaOptions": f"-Xms{HEAP} -Djava.io.tmpdir={os.environ['TMPDIR']}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    ctx = Context(
        spark=spark,
        seed=args.seed,
        seconds=args.seconds,
        trace=bool(args.trace),
        work=work,
        session_start_s=time.perf_counter() - t0,
    )
    try:
        if args.workload == "costar_serve":
            import serve

            result = serve.run(ctx)
        else:
            import batch

            result = batch.run(ctx)
        result.values["peak_rss_mb"] = instrument.peak_rss_mb(
            [os.getpid(), instrument.jvm_pid(spark)]
        )
        if ctx.trace:
            spans = os.path.join(work_root, f"spans-{args.workload}-{args.seed}.json")
            ctx.tracer.dump(spans)
            print(f"spans: {spans}")
    finally:
        _stop(spark)
        ctx.cleanup()
    return result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "imdb_mapreduce_spark")) or not os.path.isfile(
        os.path.join(ROOT, "tools", "check_correctness.py")
    ):
        print("run from the repository root: engine package or oracle tool missing", file=sys.stderr)
        return 2
    registry = _registry()

    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    _configure_env(work)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    try:
        result = _run(args, work, work_root)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for line in result.failures[:10]:
        print(f"FAILED {line}")
    print(
        f"{args.workload}: attempted={result.attempted} failed={result.failed} "
        f"error_share={result.failed / max(1, result.attempted):.4f}"
    )
    for spec in registry["end_to_end"]:
        if spec["name"] in result.values:
            print(f"  {spec['name']}: {result.values[spec['name']]:.4f} {spec['unit']}")
    specs = registry["per_layer"] if args.trace else registry["end_to_end"]
    if args.trace:
        # a layer that does not run in this workload did no work in it
        for spec in specs:
            result.values.setdefault(spec["name"], 0.0)
    print(
        json.dumps(
            {
                "correct": result.failed == 0,
                "attempted": result.attempted,
                "failed": result.failed,
                "metrics": _metrics(result.values, specs),
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
