"""Tests for the benchmark's own code (no Spark session needed)."""

from __future__ import annotations

import filecmp
import json
import os
import subprocess
import sys

import pytest

import host
import landing
import lakegen
import report
import run
import spans
from layers import parse_metric
from tools.check_correctness import TABLES

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _files(root: str) -> list[str]:
    return sorted(
        os.path.relpath(os.path.join(d, f), root) for d, _, fs in os.walk(root) for f in fs
    )


def test_landing_is_deterministic_per_seed(tmp_path):
    a = landing.write_landing(str(tmp_path / "a"), 7, sites=8, days=3)
    b = landing.write_landing(str(tmp_path / "b"), 7, sites=8, days=3)
    c = landing.write_landing(str(tmp_path / "c"), 8, sites=8, days=3)
    assert a == b
    names = _files(str(tmp_path / "a"))
    assert names == _files(str(tmp_path / "b"))
    assert all(
        filecmp.cmp(tmp_path / "a" / n, tmp_path / "b" / n, shallow=False) for n in names
    )
    same = [
        n for n in names
        if (tmp_path / "c" / n).exists()
        and filecmp.cmp(tmp_path / "a" / n, tmp_path / "c" / n, shallow=False)
    ]
    assert not same


def test_landing_predicted_counts_on_a_tiny_seed(tmp_path):
    """Recount the written files by the pipeline's rules."""
    pred = landing.write_landing(str(tmp_path), 3, sites=6, days=2)
    bronze = 0
    silver_keys: set = set()
    gold_keys: set = set()
    codes = {p[0] for p in landing.POLLUTANTS}
    for name in _files(str(tmp_path)):
        code, fname = name.split("/")
        with open(tmp_path / name, encoding="utf-8") as fh:
            lines = fh.read().splitlines()
        assert lines[0].startswith("\ufeffDate de début;")
        if not fname.startswith("polluant-"):
            continue  # the nonconforming file: bronze skips it
        assert code in codes
        rows = [line.split(";") for line in lines[1:]]
        bronze += len(rows)
        for r in rows:
            if not any(r):
                continue  # all-blank: silver drops it
            start = r[0] if len(r[0]) == 19 else (r[0] + " 00:00:00" if len(r[0]) == 10 else None)
            if start is not None and not start[5:7] <= "12":
                start = None
            silver_keys.add((code, r[5], start))
            gold_keys.add((r[5], start))
    assert pred.files == len(landing.POLLUTANTS) * 2
    assert pred.bronze_rows == bronze
    assert pred.silver_rows == len(silver_keys)
    assert pred.gold_rows == len(gold_keys)


def test_landing_has_every_quirk(tmp_path):
    landing.write_landing(str(tmp_path), 5, sites=20, days=3)
    text = "".join(
        (tmp_path / n).read_text(encoding="utf-8") for n in _files(str(tmp_path))
    )
    assert "µg/m3" in text
    assert ";" * (len(landing.HEADER) - 1) + "\n" in text
    assert any(m in text for m in landing._MALFORMED)
    assert any(n.split("/")[1].startswith("export-") for n in _files(str(tmp_path)))
    assert {p[0] for p in landing.POLLUTANTS} == {n.split("/")[0] for n in _files(str(tmp_path))}


def test_lake_is_deterministic_per_seed(tmp_path):
    lakegen.write_lake(str(tmp_path / "a"), 1, 600)
    lakegen.write_lake(str(tmp_path / "b"), 1, 600)
    lakegen.write_lake(str(tmp_path / "c"), 2, 600)
    names = sorted(f[: -len(".parquet")] for f in os.listdir(tmp_path / "a"))
    assert names == sorted(TABLES)  # every table the correctness gate reads
    for t in names:
        pa, pb, pc = (str(tmp_path / d / f"{t}.parquet") for d in "abc")
        assert filecmp.cmp(pa, pb, shallow=False)
        if t not in ("region", "nation"):
            assert not filecmp.cmp(pa, pc, shallow=False)


def test_self_time_subtracts_children_union():
    recs = [
        {"id": 0, "parent": None, "name": "pass", "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "name": "op", "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "name": "op", "start": 3.0, "end": 6.0},
        {"id": 3, "parent": 1, "name": "build", "start": 1.0, "end": 2.0},
    ]
    selfs = spans.self_times(recs)
    assert selfs[0] == pytest.approx(10.0 - 5.0)  # children cover 1..6
    assert selfs[1] == pytest.approx(3.0 - 1.0)
    assert selfs[2] == pytest.approx(3.0)
    assert selfs[3] == pytest.approx(1.0)
    assert spans.self_time_by_name(recs)["op"] == pytest.approx(5.0)


def test_tracer_records_parents_and_run_id():
    ticks = iter(range(100))
    tr = spans.Tracer("run-1", clock=lambda: float(next(ticks)))
    with tr.span("workload"):
        with tr.span("pass", index=0):
            with tr.span("op"):
                pass
    assert [s["parent"] for s in tr.spans] == [None, 0, 1]
    assert {s["run"] for s in tr.spans} == {"run-1"}
    assert all(s["end"] > s["start"] for s in tr.spans)


def test_disabled_tracer_records_nothing():
    tr = spans.Tracer("r", enabled=False)
    with tr.span("x"):
        pass
    assert tr.spans == []


def test_declared_metric_names_are_well_formed():
    for trace in (False, True):
        units = report.declared(trace)
        assert units
        for name, unit in units.items():
            assert report.NAME_RE.fullmatch(name), name
            assert unit


def test_benchmark_json_shape():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert [w["name"] for w in spec["workloads"]] == ["lake_queries", "medallion_daily"]
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_result_line_carries_every_declared_metric():
    units = report.declared(False)
    values = {name: 1.5 for name in units}
    line = json.loads(report.result_line(values, units, True, 10, 0))
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["metrics"] == {n: {"value": 1.5, "unit": u} for n, u in units.items()}
    missing = dict(values)
    missing.pop(next(iter(units)))
    with pytest.raises(KeyError):
        report.result_line(missing, units, True, 10, 0)


def test_tail_percentile_keeps_ten_samples_beyond():
    assert report.tail_percentile(10) is None
    assert report.tail_percentile(100) == 90.0
    assert report.tail_percentile(40) == 75.0
    assert report.percentile([1.0, 2.0, 3.0, 4.0], 50.0) == 2.5


@pytest.mark.parametrize("text,value", [
    ("1,024", 1024.0),
    ("3.0 MiB", 3.0 * 2**20),
    ("total (min, med, max (stageId: taskId))\n2.0 KiB (1.0 KiB, 1.0 KiB, 1.0 KiB (0: 1))", 2048.0),
])
def test_parse_metric(text, value):
    assert parse_metric(text) == value


def test_session_holds_a_child_that_leaves_the_process_group():
    """The PySpark daemon calls setpgid(0, 0); its CPU time and its kill
    must still count with the worker's session."""
    code = (
        "import os, time\n"
        "pid = os.fork()\n"
        "if pid == 0:\n"
        "    os.setpgid(0, 0)\n"
        "    sum(i * i for i in range(3_000_000))\n"
        "    print('spun', flush=True)\n"
        "    time.sleep(60)\n"
        "else:\n"
        "    print(pid, flush=True)\n"
        "    time.sleep(60)\n"
    )
    proc = subprocess.Popen([sys.executable, "-c", code], stdout=subprocess.PIPE,
                            text=True, start_new_session=True)
    try:
        child = int(proc.stdout.readline())
        assert proc.stdout.readline().strip() == "spun"
        assert os.getpgid(child) != proc.pid
        assert {proc.pid, child} <= set(host.session_procs(proc.pid))
        assert host.session_cpu_s(proc.pid) > 0.05
    finally:
        run._kill_session(proc)
    live = [s for s, _ in host.session_procs(proc.pid).values() if s != "Z"]
    assert not live
