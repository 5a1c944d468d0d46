"""The measured process: set up one Spark session, run one workload.

Started by ``run.py`` as a fresh interpreter once the inputs are written.
It times its own set-up up to the session's first job, measures the
workload, checks the outputs and writes everything to one JSON file.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def _setup(spawned_at: float) -> tuple[object, dict]:
    t0 = time.perf_counter()
    import datalakes_and_data_integration_spark.pipeline  # noqa: F401
    from datalakes_and_data_integration_spark import plans  # noqa: F401
    from datalakes_and_data_integration_spark.session import get_spark

    t1 = time.perf_counter()
    spark = get_spark("perfbench")
    t2 = time.perf_counter()
    spark.range(1).count()
    return spark, {
        "setup_s": time.time() - spawned_at,
        "import_s": t1 - t0,
        "get_spark_s": t2 - t1,
        "first_job_s": time.perf_counter() - t2,
    }


def _write(path: str, doc: dict) -> None:
    tmp = path + ".part"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(doc, fh)
    os.replace(tmp, path)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--spawned-at", type=float, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--inputs")
    ap.add_argument("--work")
    ap.add_argument("--input-bytes", type=int, required=True)
    ap.add_argument("--prediction", type=json.loads, default={})
    ap.add_argument("--spans")
    args = ap.parse_args(argv)

    spark, setup = _setup(args.spawned_at)
    try:
        _write(args.out, run_workload(spark, args, setup))
        return 0
    finally:
        spark.stop()


def run_workload(spark, args, setup: dict) -> dict:
    import workloads
    from layers import Layers, dir_bytes
    from spans import Tracer, self_time_by_name

    trace = bool(args.trace)
    tracer = Tracer(f"{args.workload}-seed{args.seed}-{os.getpid()}", enabled=trace)
    ctx = workloads.Context(
        spark, args.seed, args.inputs, args.work, os.environ["TMPDIR"],
        Layers(spark), tracer, trace,
    )
    if args.workload == "lake_queries":
        wl = workloads.QueryWorkload(ctx, workloads.LAKE_QUERIES)
    else:
        wl = workloads.MedallionWorkload(ctx, args.prediction)
    passes = workloads.measure(ctx, wl, args.seconds)
    mismatches = wl.check()
    outputs = wl.outputs()
    doc = {
        "setup": setup,
        "attempted": ctx.attempted,
        "failures": ctx.failures,
        "mismatches": mismatches,
        "outputs": outputs,
        "passes": [
            {**p, "ops": [{k: v for k, v in op.items() if k != "deltas"} for op in p["ops"]]}
            for p in passes
        ],
        "end_to_end": workloads.end_to_end(passes, args.workload, outputs, args.input_bytes),
        "jvm_peak_rss_mb": ctx.layers.jvm_peak_rss_mb(),
        "tmp_bytes_left": dir_bytes(os.environ["TMPDIR"])[0],
        "local_bytes_left": dir_bytes(os.environ["SPARK_LOCAL_DIRS"])[0],
    }
    if trace:
        doc["per_layer"] = {
            "session.import_s": setup["import_s"],
            "session.get_spark_s": setup["get_spark_s"],
            **workloads.per_layer(passes, args.workload, outputs),
        }
        doc["self_time_s"] = self_time_by_name(tracer.spans)
        tracer.write(args.spans)
    return doc


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
