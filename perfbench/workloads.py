"""The workloads and their closed measuring loop.

One client issues one operation at a time and waits for it. A workload
runs a cold pass (or daily run) first, then a fixed number of warm ones.
Untraced passes only take wall time. A traced run traces the cold pass
and two of three warm passes, so the warm pass it leaves untraced gives
the tracing overhead from the same process.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from host import session_cpu_s
from layers import COUNTERS, dir_bytes
from report import median, percentile, timing
from spans import Tracer

# The query path, as an analyst session runs it: batch reads (TPC-H joins
# that run jobs while their plan is built, a window query, a mapInPandas
# scan) and stateful streaming increments (a watermarked aggregate with
# state, a ledgered sketch-maintenance commit).
LAKE_QUERIES = [
    "tpch_q8_market_share",
    "sessionization",
    "ann_topk_bruteforce_hybrid",
    "streaming_hourly_agg",
    "streaming_heavy_hitters_cms",
]
ZONES = ("bronze", "silver", "gold")


class Context:
    """What every workload needs from the worker process."""

    def __init__(self, spark, seed, inputs, work, tmpdir, layers, tracer, trace):
        self.spark = spark
        self.seed = seed
        self.inputs = inputs
        self.work = work
        self.tmpdir = tmpdir
        self.layers = layers
        self.tracer = tracer
        self._untraced = Tracer(tracer.run_id, enabled=False)
        self.trace = trace
        self.attempted = 0
        self.failures: list[str] = []

    def spans(self, traced: bool):
        return self.tracer if traced else self._untraced

    def call(self, traced: bool, name: str, fn, op: dict):
        """Run ``fn()`` in a span; in a traced pass keep its layer delta."""
        with self.spans(traced).span(name):
            if not traced:
                return fn()
            self.layers.label(name)
            mark = self.layers.mark()
            result = fn()
            op["deltas"][name] = self.layers.delta(mark)
            return result

    def after_op(self, traced: bool, op: dict) -> None:
        if traced:
            op["cache_bytes"] = self.layers.cached_bytes()
            op["tmp_bytes"] = dir_bytes(self.tmpdir)[0]


def _traced(i: int) -> bool:
    """Traced passes of a traced run: the cold one, then warm T U T.

    The JIT keeps speeding up the early warm passes; comparing the mean of
    the two traced passes with the untraced one between them cancels a
    steady trend out of the tracing overhead.
    """
    return i == 0 or i % 2 == 1


def measure(ctx: Context, workload, seconds: float) -> list[dict]:
    """A cold pass, then as many warm passes as fit in ``seconds``.

    The count follows from ``seconds`` and the workload's pass estimates
    alone, never from the clock, so every run of one workload has the
    same passes. A traced run has three warm passes, two of them traced.
    """
    fit = round((seconds - workload.COLD_EST_S) / workload.WARM_EST_S)
    n_warm = 3 if ctx.trace else max(1, fit)
    passes: list[dict] = []
    with ctx.spans(ctx.trace).span("workload"):
        for i in range(1 + n_warm):
            traced = ctx.trace and _traced(i)
            if traced:
                ctx.layers.attach()
            elif ctx.trace:
                ctx.layers.detach()
            with ctx.spans(traced).span("pass", index=i):
                rec = workload.one_pass(i, traced)
            rec.update(index=i, traced=traced)
            passes.append(rec)
    ctx.layers.detach()
    return passes


class QueryWorkload:
    """Registered queries over the seeded lake, each built then sunk to noop."""

    COLD_EST_S = 22.0
    WARM_EST_S = 8.0

    def __init__(self, ctx: Context, names: list[str]):
        from datalakes_and_data_integration_spark import plans

        self.ctx = ctx
        self.queries = [plans.QUERIES[n] for n in names]
        self.rng = random.Random(ctx.seed)
        self.last: dict[str, object] = {}

    def one_pass(self, index: int, traced: bool) -> dict:
        ctx = self.ctx
        order = list(self.queries)
        self.rng.shuffle(order)
        ops = []
        self.last = {}
        cpu0, t_pass = session_cpu_s(os.getsid(0)), time.perf_counter()
        for q in order:
            ctx.attempted += 1
            op: dict = {"name": q.name, "deltas": {}}
            t0 = time.perf_counter()
            try:
                with ctx.spans(traced).span("op", query=q.name):
                    df = ctx.call(traced, "build", lambda q=q: q.spark(ctx.spark, ctx.inputs), op)
                    if traced:
                        ctx.layers.add_analysis(df, op["deltas"]["build"])
                    ctx.call(traced, "execute",
                             lambda: df.write.format("noop").mode("overwrite").save(), op)
            except Exception as exc:  # noqa: BLE001 - a failed query is counted, not fatal
                ctx.failures.append(f"{q.name}: {type(exc).__name__}: {exc}"[:500])
                continue
            op["latency_s"] = time.perf_counter() - t0
            ctx.after_op(traced, op)
            self.last[q.name] = df
            ops.append(op)
        wall = time.perf_counter() - t_pass
        cpu = session_cpu_s(os.getsid(0)) - cpu0
        held = ctx.layers.cached_bytes()
        ctx.spark.catalog.clearCache()
        return {"ops": ops, "wall_s": wall, "cpu_s": cpu, "cached_bytes": held}

    def check(self) -> list[str]:
        """Compare the last pass's results with their DuckDB oracles by the
        rules of the repository's correctness gate."""
        from tools.check_correctness import compare, duck_connect

        con = duck_connect(self.ctx.inputs)
        bad = []
        try:
            for name, df in sorted(self.last.items()):
                self.ctx.attempted += 1
                try:
                    ok, msg = compare(name, df, con)
                except Exception as exc:  # noqa: BLE001 - reported as a mismatch
                    ok, msg = False, f"{type(exc).__name__}: {exc}"[:500]
                if not ok:
                    bad.append(f"{name}: {msg}"[:500])
        finally:
            con.close()
        return bad

    def outputs(self) -> dict:
        return {}


class MedallionWorkload:
    """One daily run = bronze -> silver -> gold into a fresh work dir."""

    COLD_EST_S = 21.0
    WARM_EST_S = 10.0

    def __init__(self, ctx: Context, prediction: dict):
        from datalakes_and_data_integration_spark import pipeline

        self.ctx = ctx
        self.prediction = prediction
        self.stages = {
            "bronze": lambda z: pipeline.build_bronze(ctx.spark, ctx.inputs, z["bronze"]),
            "silver": lambda z: pipeline.build_silver(ctx.spark, z["bronze"], z["silver"]),
            "gold": lambda z: pipeline.build_gold(ctx.spark, z["silver"], z["gold"]),
        }
        self.runs: list[dict] = []

    def one_pass(self, index: int, traced: bool) -> dict:
        ctx = self.ctx
        run_dir = os.path.join(ctx.work, f"run{index}")
        zones = {z: os.path.join(run_dir, z) for z in ZONES}
        frames = {}
        ops = []
        cpu0, t_pass = session_cpu_s(os.getsid(0)), time.perf_counter()
        for name, stage in self.stages.items():
            ctx.attempted += 1
            op: dict = {"name": name, "deltas": {}}
            t0 = time.perf_counter()
            try:
                frames[name] = ctx.call(traced, name, lambda s=stage: s(zones), op)
            except Exception as exc:  # noqa: BLE001 - counted; later zones need this one
                ctx.failures.append(f"{name}: {type(exc).__name__}: {exc}"[:500])
                break
            op["latency_s"] = time.perf_counter() - t0
            ctx.after_op(traced, op)
            ops.append(op)
        wall = time.perf_counter() - t_pass
        cpu = session_cpu_s(os.getsid(0)) - cpu0
        if len(frames) == len(ZONES):
            self.runs.append(self._inspect(frames, zones))
        shutil.rmtree(run_dir, ignore_errors=True)
        return {"ops": ops, "wall_s": wall, "cpu_s": cpu, "cached_bytes": ctx.layers.cached_bytes()}

    def _inspect(self, frames: dict, zones: dict) -> dict:
        """Zone read-backs, sizes and the gold digest, outside the timing."""
        from pyspark.sql import functions as F

        out = {}
        for z in ZONES:
            out[f"{z}_bytes"], out[f"{z}_files"] = dir_bytes(zones[z])
        for z in ZONES[:2]:
            out[f"{z}_rows"] = frames[z].count()
        gold = frames["gold"]
        row = gold.select(
            F.count(F.lit(1)),
            F.sum(F.xxhash64(*[F.col(c) for c in gold.columns]).cast("decimal(38,0)")),
        ).first()
        out["gold_rows"], out["gold_digest"] = row[0], str(row[1])
        return out

    def check(self) -> list[str]:
        bad = []
        for i, run in enumerate(self.runs):
            self.ctx.attempted += 1
            for z in ZONES:
                want = self.prediction[f"{z}_rows"]
                if run[f"{z}_rows"] != want:
                    bad.append(f"run {i}: {z} has {run[f'{z}_rows']} rows, predicted {want}")
            if run["gold_digest"] != self.runs[0]["gold_digest"]:
                bad.append(f"run {i}: gold digest differs from run 0")
        if not self.runs:
            bad.append("no daily run completed")
        return bad

    def outputs(self) -> dict:
        return self.runs[-1] if self.runs else {}


def _sum(ops: list[dict], names, key: str) -> float:
    return sum(op["deltas"][n][key] for op in ops for n in names if n in op["deltas"])


def end_to_end(passes: list[dict], workload: str, outputs: dict, input_bytes: int) -> dict:
    """Untraced metrics; in a traced run they cover the untraced passes only."""
    warm = [p for p in passes[1:] if not p["traced"]]
    lat = [op["latency_s"] for p in warm for op in p["ops"]]
    q = timing(lat)
    out = {
        "cold_s": passes[0]["wall_s"],
        "warm_s": median([p["wall_s"] for p in warm]),
        "cold_cpu_s": passes[0]["cpu_s"],
        "warm_cpu_s": median([p["cpu_s"] for p in warm]),
        "warm_n": len(warm),
        "query_p50_s": q["p50"],
        "query_p90_s": percentile(lat, 90.0),
        "query_tail_pct": q["tail_pct"],
        "query_tail_s": q["tail"],
        "query_n": q["n"],
        "cached_bytes_held": max(p["cached_bytes"] for p in passes),
    }
    if workload == "medallion_daily" and outputs:
        zone_bytes = sum(outputs[f"{z}_bytes"] for z in ZONES)
        out["stored_bytes_per_input_byte"] = zone_bytes / input_bytes
    return out


def per_layer(passes: list[dict], workload: str, outputs: dict) -> dict:
    """Layer metrics: medians over traced warm passes; codegen from the cold pass."""
    traced = [p for p in passes[1:] if p["traced"]]
    untraced = [p for p in passes[1:] if not p["traced"]]
    execute = list(ZONES) if workload == "medallion_daily" else ["execute"]
    every = ["build", *execute]

    def med(fn) -> float:
        return median([fn(p["ops"]) for p in traced])

    out = {
        "plans.build_s": med(lambda ops: _sum(ops, ["build"], "wall_s")),
        "plans.build_jobs": med(lambda ops: _sum(ops, ["build"], "jobs")),
        "codegen.compile_s": _sum(passes[0]["ops"], every, "compile_s"),
        "codegen.compiles": _sum(passes[0]["ops"], every, "compiles"),
        "execute.wall_s": med(lambda ops: _sum(ops, execute, "wall_s")),
    }
    for phase in ("analysis", "optimization", "planning"):
        out[f"catalyst.{phase}_s"] = med(lambda ops, k=f"{phase}_s": _sum(ops, every, k))
    for key in ("jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s",
                "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
        out[f"execute.{key}"] = med(lambda ops, k=key: _sum(ops, execute, k))
    cores = len(os.sched_getaffinity(0))
    out["execute.core_util"] = med(
        lambda ops: _sum(ops, execute, "run_s")
        / max(_sum(ops, execute, "wall_s") * cores, 1e-9)
    )
    for key in COUNTERS:
        if key.startswith(("python.", "streaming.")):
            out[key] = med(lambda ops, k=key: _sum(ops, every, k))
    for z in ZONES:
        out[f"pipeline.{z}_s"] = med(lambda ops, z=z: _sum(ops, [z], "wall_s"))
        for k in ("rows", "bytes", "files"):
            out[f"pipeline.{z}_{k}"] = outputs.get(f"{z}_{k}", 0)
    out["pipeline.silver_kept_ratio"] = (
        outputs["silver_rows"] / outputs["bronze_rows"] if outputs.get("bronze_rows") else 0.0
    )
    traced_ops = [op for p in passes if p["traced"] for op in p["ops"]]
    out["cache.bytes_after_op"] = max((op["cache_bytes"] for op in traced_ops), default=0)
    out["tmp.bytes_after_op"] = max((op["tmp_bytes"] for op in traced_ops), default=0)
    out["trace.overhead_s"] = (
        sum(p["wall_s"] for p in traced) / len(traced)
        - sum(p["wall_s"] for p in untraced) / len(untraced)
    )
    return out
