"""Process and host counters read from /proc (Linux).

CPU of a process tree is the sum, over its live processes, of own
user+system time plus the time of children they already reaped, so a
Python worker that exits between two samples is still counted once.

The JVM's JIT compiler threads are also sampled one by one: their CPU
is warm-up work that keeps falling for dozens of passes, so the
benchmark reports it apart from the work CPU of a pass.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def own_cpu(pid: int) -> float:
    """User+system seconds of `pid` itself."""
    s = _stat(pid)
    return (int(s[11]) + int(s[12])) / _TICK if s else 0.0


def _total_cpu(s: list[str]) -> float:
    return sum(int(x) for x in s[11:15]) / _TICK


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            s = _stat(int(entry))
            if s:
                kids.setdefault(int(s[1]), []).append(int(entry))
    return kids


def _descendants(root: int, kids: dict[int, list[int]]) -> list[int]:
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += kids.get(pid, [])
    return out


def _jit_threads(jvm_pid: int) -> dict[int, float]:
    """CPU seconds of each live HotSpot compiler thread of the JVM."""
    out = {}
    try:
        tids = os.listdir(f"/proc/{jvm_pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{jvm_pid}/task/{tid}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        name = raw[raw.index("(") + 1:raw.rindex(")")]
        if name.startswith(("C1 CompilerThre", "C2 CompilerThre")):
            s = raw[raw.rindex(")") + 2:].split()
            out[int(tid)] = (int(s[11]) + int(s[12])) / _TICK
    return out


def cpu_sample(driver_pid: int, jvm_pid: int | None) -> dict:
    """Cumulative CPU seconds: the whole tree under the Spark driver's
    Python process, that process and the JVM alone, the JVM's Python
    worker processes, and each JIT compiler thread."""
    kids = _children()
    tree = 0.0
    for pid in _descendants(driver_pid, kids):
        s = _stat(pid)
        if s:
            tree += _total_cpu(s)
    pyworker = 0.0
    if jvm_pid is not None:
        for pid in _descendants(jvm_pid, kids)[1:]:
            s = _stat(pid)
            if s and "pyspark" in _cmdline(pid):
                pyworker += _total_cpu(s)
    return {
        "tree": tree,
        "driver": own_cpu(driver_pid),
        "jvm": own_cpu(jvm_pid) if jvm_pid is not None else 0.0,
        "pyworker": pyworker,
        "jit_threads": _jit_threads(jvm_pid) if jvm_pid is not None else {},
    }


def cpu_delta(before: dict, after: dict) -> dict[str, float]:
    """CPU seconds spent between two samples. ``jit`` counts the compiler
    threads alive at the second sample (the JVM retires idle ones; an
    idle thread's last stretch is small) and ``work`` is the tree's CPU
    without it."""
    out = {k: after[k] - before[k] for k in ("tree", "driver", "jvm", "pyworker")}
    b = before["jit_threads"]
    out["jit"] = sum(v - b.get(tid, 0.0) for tid, v in after["jit_threads"].items())
    out["work"] = out["tree"] - out["jit"]
    return out


def io_sample(pid: int) -> dict[str, int]:
    """rchar/wchar of `pid`: bytes passed through read and write calls."""
    out = {"rchar": 0, "wchar": 0}
    try:
        with open(f"/proc/{pid}/io") as f:
            for line in f:
                key, _, value = line.partition(":")
                if key in out:
                    out[key] = int(value)
    except OSError:
        pass
    return out


def rss_peak_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def host_sample() -> dict[str, float]:
    """load1 and the cumulative /proc/stat jiffies (for steal %)."""
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    with open("/proc/stat") as f:
        jiffies = [int(x) for x in f.readline().split()[1:9]]
    return {"load1": load1, "jiffies": jiffies}


def steal_pct(before: dict, after: dict) -> float:
    d = [b - a for a, b in zip(before["jiffies"], after["jiffies"])]
    return 100.0 * d[7] / (sum(d) or 1)
