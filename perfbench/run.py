"""Run one benchmark workload and print its metrics.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload lake_queries --seed 1 --seconds 14 --trace 0

Workloads: ``lake_queries``, ``medallion_daily`` (see perfbench/README.md).
The run:

1. describes the host (cores, load average, calibration loops);
2. generates the workload's inputs from ``--seed`` under ``.perfbench/``;
3. then starts the worker, a fresh interpreter in a session of its own
   with its own ``TMPDIR``, ``SPARK_LOCAL_DIRS``, JVM temp dir and
   ``HOME``, and ``SPARK_GRAFT_CPUS`` set to the core count; the worker
   times its own set-up, measures for ``--seconds``, checks its outputs
   and measures what it left in ``TMPDIR``;
4. kills every process of the worker's session and deletes every private
   directory of the run.

Spark's console output goes to ``.perfbench/logs/``. The second-to-last
stdout line is a report with every metric, its unit and sample count; the
last line is the result: ``correct``, ``attempted``, ``failed`` and the
metrics ``BENCHMARK.json`` declares (``end_to_end`` untraced, ``per_layer``
with ``--trace 1``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import host

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = os.path.join(ROOT, "datalakes_and_data_integration_spark", "__init__.py")
WORKLOADS = ("lake_queries", "medallion_daily")
LAKE_LINEITEMS = 60_000
LANDING_SITES = 30
LANDING_DAYS = 5
DEADLINE_S = 170.0

# Every end-to-end metric the report carries, with its unit.
E2E_UNITS = {
    "setup_s": "s",
    "cold_s": "s",
    "warm_s": "s",
    "cold_cpu_s": "s",
    "warm_cpu_s": "s",
    "query_p50_s": "s",
    "query_p90_s": "s",
    "error_rate": "ratio",
    "stored_bytes_per_input_byte": "ratio",
    "tmp_bytes_left": "bytes",
    "cached_bytes_held": "bytes",
    "jvm_peak_rss_mb": "MB",
}


def _fail(msg: str, code: int = 1) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return code


def _child_env(base: str, cores: int) -> dict:
    dirs = {k: os.path.join(base, k) for k in ("tmp", "local", "jtmp", "home")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        SPARK_GRAFT_CPUS=str(cores),
        TMPDIR=dirs["tmp"],
        SPARK_LOCAL_DIRS=dirs["local"],
        # No hsperfdata file: HotSpot writes it to /tmp whatever the temp dir.
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={dirs['jtmp']} -XX:-UsePerfData",
        # The package keeps scratch under ~/.cache unless told otherwise.
        HOME=dirs["home"],
        PYTHONUNBUFFERED="1",
        PYTHONHASHSEED="0",  # the same set and dict order in every run
    )
    return env


def _spawn(args: list[str], env: dict, log_path: str) -> subprocess.Popen:
    with open(log_path, "wb") as log:
        return subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), *args],
            env=env, stdout=log, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
            cwd=ROOT, start_new_session=True,
        )


def _await(proc: subprocess.Popen, path: str, deadline: float) -> None:
    """Wait until ``proc`` wrote ``path``, exited, or the deadline passed."""
    while not os.path.exists(path) and proc.poll() is None and time.monotonic() < deadline:
        time.sleep(0.05)


def _kill_session(proc: subprocess.Popen) -> None:
    """Kill the process and every process of its session (the JVM, the
    PySpark daemon and its Python workers); wait until all have ended."""
    while True:
        live = [pid for pid, (state, _) in host.session_procs(proc.pid).items() if state != "Z"]
        if not live:
            break
        for pid in live:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.02)
    proc.wait()


def _read(path: str) -> dict | None:
    try:
        with open(path, encoding="utf-8") as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return None


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(PACKAGE):
        return _fail(f"the package is missing: {PACKAGE}", 2)
    # A terminated run still kills the worker's session (the finally below).
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    import lakegen
    import landing
    from report import declared, result_line

    t_run = time.monotonic()
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    base = os.path.join(ROOT, ".perfbench", f"run-{name}-{os.getpid()}")
    logs = os.path.join(ROOT, ".perfbench", "logs", name)
    shutil.rmtree(logs, ignore_errors=True)
    os.makedirs(logs)
    inputs, work = os.path.join(base, "inputs"), os.path.join(base, "work")
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(base, "parent_tmp")
    os.makedirs(os.environ["TMPDIR"])
    proc: subprocess.Popen | None = None
    try:
        cores = host.cores()
        steal0 = host.steal_s()
        host_rec = {"nproc": cores, "loadavg_before": host.loadavg(), **host.calibrate()}
        if args.workload == "medallion_daily":
            pred = landing.write_landing(inputs, args.seed, LANDING_SITES, LANDING_DAYS)
            input_bytes = pred.landing_bytes
            prediction = {k: getattr(pred, k) for k in ("bronze_rows", "silver_rows", "gold_rows")}
        else:
            input_bytes, prediction = lakegen.write_lake(inputs, args.seed, LAKE_LINEITEMS), {}
        out = os.path.join(base, "worker.json")
        worker_args = [
            "--spawned-at", str(time.time()), "--out", out,
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--inputs", inputs, "--work", work, "--input-bytes", str(input_bytes),
            "--prediction", json.dumps(prediction),
            "--spans", os.path.join(logs, "spans.json"),
        ]
        proc = _spawn(worker_args, _child_env(os.path.join(base, "worker"), cores),
                      os.path.join(logs, "worker.log"))
        # The worker has nothing left to measure once it wrote its result,
        # so it is killed rather than left to shut Spark down.
        _await(proc, out, t_run + DEADLINE_S)
        _kill_session(proc)
        doc = _read(out)
        if doc is None:
            return _fail(f"worker failed (exit {proc.returncode}); see {logs}/worker.log")
        host_rec["loadavg_after"] = host.loadavg()
        host_rec["cpu_steal_s"] = host.steal_s() - steal0
    finally:
        if proc is not None:
            _kill_session(proc)
        shutil.rmtree(base, ignore_errors=True)

    failed = len(doc["failures"]) + len(doc["mismatches"])
    e2e = dict(doc["end_to_end"])
    e2e.update(
        setup_s=doc["setup"]["setup_s"],
        error_rate=failed / doc["attempted"],
        tmp_bytes_left=doc["tmp_bytes_left"],
        jvm_peak_rss_mb=doc["jvm_peak_rss_mb"],
    )
    counts = {
        "setup_s": 1, "cold_s": 1, "warm_s": e2e["warm_n"],
        "cold_cpu_s": 1, "warm_cpu_s": e2e["warm_n"],
        "query_p50_s": e2e["query_n"], "query_p90_s": e2e["query_n"],
        "error_rate": doc["attempted"], "cached_bytes_held": len(doc["passes"]),
    }
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace,
        "end_to_end": {
            k: {"value": e2e[k], "unit": u, "n": counts.get(k, 1)}
            for k, u in E2E_UNITS.items() if k in e2e
        },
        "query_tail": {"pct": e2e["query_tail_pct"], "value_s": e2e["query_tail_s"]},
        "setup": doc["setup"],
        "passes": [
            {"index": p["index"], "traced": p["traced"], "wall_s": p["wall_s"], "cpu_s": p["cpu_s"],
             "ops_s": [(op["name"], op["latency_s"]) for op in p["ops"]]}
            for p in doc["passes"]
        ],
        "local_dirs_bytes_left": doc["local_bytes_left"],
        "outputs": doc["outputs"],
        "failures": doc["failures"],
        "mismatches": doc["mismatches"],
        "host": host_rec,
        "run_s": time.monotonic() - t_run,
        "logs": os.path.relpath(logs, ROOT),
    }
    if args.trace:
        report["per_layer"] = doc["per_layer"]
        report["self_time_s"] = doc["self_time_s"]
    print(json.dumps({"report": report}))
    values = doc["per_layer"] if args.trace else e2e
    print(result_line(values, declared(bool(args.trace)), failed == 0,
                      doc["attempted"], failed))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
