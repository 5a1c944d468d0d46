"""A description of the host for each run; never a gate.

Records the core count, the load average, the CPU time the hypervisor
stole during the run, and two calibration loops: one thread, and one
loop per core at once. Their ratio shows whether the cores ran in
parallel; nothing compares it with a reference taken on another machine.
"""

from __future__ import annotations

import os
import subprocess
import sys

_LOOP = """
import time
t0 = time.perf_counter()
s = 0
for i in range(1_000_000):
    s += i * i
print(time.perf_counter() - t0)
"""


def cores() -> int:
    return len(os.sched_getaffinity(0))


def loadavg() -> list[float]:
    with open("/proc/loadavg", encoding="ascii") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def steal_s() -> float:
    """CPU seconds stolen from this machine since boot, summed over cores."""
    with open("/proc/stat", encoding="ascii") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def session_procs(sid: int) -> dict[int, tuple[str, int]]:
    """``pid -> (state, CPU ticks)`` for every process of session ``sid``.

    The ticks are user + system time of the process and of the children
    it reaped. Selecting by session rather than process group matters:
    PySpark's worker daemon moves itself and its Python workers into a
    process group of their own, but never leaves the session.
    """
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid:
            out[int(entry)] = (fields[0], sum(int(x) for x in fields[11:15]))
    return out


def session_cpu_s(sid: int) -> float:
    """CPU seconds used by session ``sid``: the JVM, the Python driver, the
    PySpark daemon and its workers. Stolen time is not charged to a
    process, so this stays put when the hypervisor takes CPUs away."""
    ticks = sum(t for _, t in session_procs(sid).values())
    return ticks / os.sysconf("SC_CLK_TCK")


def _loops(n: int) -> list[float]:
    """Seconds each of ``n`` loop processes took, all started at once."""
    procs = [
        subprocess.Popen([sys.executable, "-c", _LOOP], stdout=subprocess.PIPE, text=True)
        for _ in range(n)
    ]
    return [float(p.communicate()[0]) for p in procs]


def calibrate() -> dict:
    """Seconds for one loop alone and the mean for ``cores()`` loops at once."""
    one = _loops(1)[0]
    par = _loops(cores())
    mean = sum(par) / len(par)
    return {"calib_1thread_s": one, "calib_ncores_s": mean, "calib_ratio": mean / one}
