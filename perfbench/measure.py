"""Process-tree, host and sample statistics for the benchmark.

Everything here reads ``/proc`` or plain lists; nothing imports Spark, so the
benchmark's own tests run without a session.
"""

from __future__ import annotations

import math
import os
import statistics

_CLK_TCK = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100


# ---------------------------------------------------------------- processes

def _stat_fields(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may contain spaces and parentheses; the fields after it do not.
    return raw[raw.rfind(")") + 2:].split()


def process_tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and every live descendant."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        fields = _stat_fields(pid)
        if fields:
            children.setdefault(int(fields[1]), []).append(int(pid))
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, ()))
    return tree


def cpu_seconds(pids: list[int]) -> float:
    """User + system CPU of ``pids``, including their reaped children."""
    ticks = 0
    for pid in pids:
        fields = _stat_fields(str(pid))
        if fields:
            # utime, stime, cutime, cstime are fields 14-17 of stat(5).
            ticks += sum(int(v) for v in fields[11:15])
    return ticks / _CLK_TCK


def tree_cpu_seconds() -> float:
    return cpu_seconds(process_tree())


def python_worker_pids() -> list[int]:
    """Spark's Python worker processes (the daemon and its forks)."""
    out = []
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                cmd = fh.read()
        except OSError:
            continue
        if b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd:
            out.append(pid)
    return out


def _status(pid: int) -> dict[str, str] | None:
    try:
        with open(f"/proc/{pid}/status") as fh:
            return dict(line.split(":", 1) for line in fh if ":" in line)
    except OSError:
        return None


def rss_by_process(prefix: str = "python") -> dict[str, float]:
    """Resident size (VmRSS) in MiB of each live process in the tree whose
    name starts with ``prefix``, summed per command name. Other children,
    such as a helper the JVM is just spawning, are left out: until it execs
    such a child reports the JVM's own resident size."""
    out: dict[str, float] = {}
    for pid in process_tree():
        fields = _status(pid)
        if fields and "VmRSS" in fields and fields["Name"].strip().startswith(prefix):
            name = fields["Name"].strip()
            out[name] = out.get(name, 0.0) + int(fields["VmRSS"].split()[0]) / 1024.0
    return out


def process_age_s() -> float:
    """Seconds since this process was launched (exec'd)."""
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    # starttime is field 22 of stat(5), in clock ticks after boot.
    return uptime - int(_stat_fields(str(os.getpid()))[19]) / _CLK_TCK


def descendants_alive() -> list[int]:
    return [p for p in process_tree() if p != os.getpid()]


# --------------------------------------------------------------------- host

def cpu_jiffies(stat_line: str | None = None) -> tuple[int, int]:
    """(steal, busy) jiffies from the aggregate ``cpu`` line of /proc/stat.

    ``busy`` is the sum of all fields minus idle and iowait, minus guest
    and guest_nice, which the kernel already counts inside user and nice.
    It includes steal, so steal / busy is stolen / (ran + stolen)."""
    if stat_line is None:
        with open("/proc/stat") as fh:
            stat_line = fh.readline()
    vals = ([int(v) for v in stat_line.split()[1:]] + [0] * 10)[:10]
    idle, iowait, steal, guest, guest_nice = vals[3], vals[4], vals[7], vals[8], vals[9]
    return steal, sum(vals) - idle - iowait - guest - guest_nice


def steal_pct(start: tuple[int, int], end: tuple[int, int]) -> float:
    d_steal, d_busy = end[0] - start[0], end[1] - start[1]
    return 100.0 * d_steal / d_busy if d_busy > 0 else 0.0


def unstolen(seconds: float, steal: float) -> float:
    """``seconds`` of wall time less the share ``steal`` (in %) that the
    hypervisor gave to other guests while it ran: the time the same work
    takes when no vCPU is taken away."""
    return seconds * (1.0 - steal / 100.0)


def java_process_count() -> int:
    n = 0
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/comm") as fh:
                    n += fh.read().strip() == "java"
            except OSError:
                continue
    return n


def env_stamp() -> dict:
    """cpus this process may use, 1-minute load and running JVMs."""
    try:
        cpus = len(os.sched_getaffinity(0))
    except AttributeError:
        cpus = os.cpu_count() or 1
    return {
        "cpus": cpus,
        "load1": round(os.getloadavg()[0], 2),
        "java_processes": java_process_count(),
    }


# -------------------------------------------------------------- statistics

def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def geometric_mean(values: list[float]) -> float:
    return float(statistics.geometric_mean(values)) if values else 0.0


def tail(values: list[float], beyond: int = 10) -> dict:
    """The highest percentile with at least ``beyond`` samples above it.

    With n sorted samples that is the value at rank n - beyond - 1 (so
    exactly ``beyond`` samples lie above it), reported as the percentile
    100 * rank / (n - 1). With ``beyond`` or fewer samples no percentile
    qualifies, and the maximum is reported, with nothing beyond it."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return {"value": 0.0, "percentile": 0.0, "samples": 0, "beyond": 0}
    rank = n - beyond - 1 if n > beyond else n - 1
    pct = 100.0 * rank / (n - 1) if n > 1 else 100.0
    return {
        "value": xs[rank],
        "percentile": math.floor(pct * 10) / 10,
        "samples": n,
        "beyond": n - 1 - rank,
    }
