"""One benchmark process: set up, then measure and check one workload.

Started by ``run.py`` as ``python3 worker.py <config.json>``; writes its
result to the path named in the config. The parent's wall-clock spawn
time arrives in ``PERFBENCH_SPAWN`` so ``setup_s`` starts at process
start.
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time


def _wrap_load_table(tracer) -> None:
    """Span every ``io.load_table`` call. Installed before the registry
    imports the operator modules, so ``from ..io import load_table``
    binds the wrapper too."""
    from severless_data_pipeline_aws_spark import io

    inner = io.load_table

    def load_table(spark, sf_dir, name):
        with tracer.span("io.load_table", table=name):
            return inner(spark, sf_dir, name)

    io.load_table = load_table


def _heap_retained(spark) -> dict:
    """JVM heap still in use after a full collection, and the committed heap.

    Read at the end of the timed region: what survives a full collection
    is what the program keeps (persisted blocks, broadcasts, metadata). A
    peak of used heap would read the young generation's size instead, as
    G1 fills eden before every young collection.
    """
    jvm = spark.sparkContext._jvm
    # Python's collector first: a frame it frees releases its JVM-side
    # objects only then; the second JVM collection frees what the first
    # let Spark's cleaner release (state behind weak references)
    gc.collect()
    jvm.java.lang.System.gc()
    time.sleep(0.5)
    jvm.java.lang.System.gc()
    usage = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return {"retained": usage.getUsed(), "committed": usage.getCommitted()}


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=30)


def main(cfg_path: str) -> None:
    spawn = float(os.environ["PERFBENCH_SPAWN"])
    with open(cfg_path) as fh:
        cfg = json.load(fh)
    sys.path.insert(0, cfg["root"])
    from spans import Tracer
    from workloads import WORKLOADS, Layers

    tracer = Tracer()
    if cfg["trace"]:
        _wrap_load_table(tracer)
    from severless_data_pipeline_aws_spark import registry
    from severless_data_pipeline_aws_spark.session import get_spark

    setup = {}
    t = time.perf_counter()
    spark = get_spark(cpus=cfg["cpus"], extra_conf=cfg["spark_conf"])
    setup["get_spark_s"] = time.perf_counter() - t
    t = time.perf_counter()
    specs = registry.load_all()
    setup["load_all_s"] = time.perf_counter() - t
    workload = WORKLOADS[cfg["workload"]](Layers(spark, specs, tracer), cfg["inputs"], cfg["seed"])
    t = time.perf_counter()
    workload.warmup()
    setup["warmup_s"] = time.perf_counter() - t
    setup["setup_s"] = time.time() - spawn
    result: dict = {"setup": setup}
    try:
        open(cfg["measuring_marker"], "w").close()
        result["untraced"] = workload.measure(cfg["seconds"])
        if cfg["trace"]:
            # untraced / traced / untraced, so warming up over the run
            # does not read as tracing overhead
            tracer.active = True
            result["traced"] = workload.measure(cfg["seconds"])
            tracer.active = False
            result["untraced_after"] = workload.measure(cfg["seconds"])
        open(cfg["measured_marker"], "w").close()
        result["heap"] = _heap_retained(spark)
        result["check"] = workload.check()
        result["rows_out"] = workload.rows_out
        if cfg["trace"]:
            tracer.dump(cfg["trace_path"])
            result["spans"] = tracer.spans
    finally:
        with open(cfg["result_path"] + ".tmp", "w") as fh:
            json.dump(result, fh)
        os.rename(cfg["result_path"] + ".tmp", cfg["result_path"])
        _stop(spark)


if __name__ == "__main__":
    main(sys.argv[1])
