"""Run-quality record: CPU steal and load around a run, machine and
software versions, and peak resident memory read from ``/proc``."""

from __future__ import annotations

import os
import platform
import subprocess

# A run is flagged noisy (kept, not dropped) above either threshold.
STEAL_NOISY_PCT = 2.0
LOAD_NOISY_PER_CPU = 1.5


def nproc() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies from the first line of /proc/stat.

    Only the first 8 fields (user..steal) are summed: guest and
    guest_nice are already included in user and nice, so adding them
    would double-count and understate steal."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
        return (vals[7] if len(vals) > 7 else 0), sum(vals[:8])
    except (OSError, ValueError):
        return 0, 0


def loadavg() -> float:
    try:
        return os.getloadavg()[0]
    except OSError:
        return -1.0


def snapshot() -> dict:
    steal, total = cpu_jiffies()
    return {"steal": steal, "total": total, "load1": loadavg()}


def quality(before: dict, after: dict) -> dict:
    d_total = after["total"] - before["total"]
    steal_pct = (100.0 * (after["steal"] - before["steal"]) / d_total
                 if d_total > 0 else 0.0)
    ncpu = nproc()
    noisy = []
    if steal_pct > STEAL_NOISY_PCT:
        noisy.append(f"steal {steal_pct:.1f}% > {STEAL_NOISY_PCT}%")
    for when, snap in (("before", before), ("after", after)):
        if snap["load1"] > LOAD_NOISY_PER_CPU * ncpu:
            noisy.append(f"load1 {when} {snap['load1']:.2f} > "
                         f"{LOAD_NOISY_PER_CPU} x {ncpu} cpus")
    return {"steal_pct": round(steal_pct, 3),
            "load1_before": before["load1"], "load1_after": after["load1"],
            "noisy": noisy}


def _version(cmd: list[str]) -> str:
    try:
        out = subprocess.run(cmd, capture_output=True, text=True,
                             timeout=20)
        text = (out.stdout + out.stderr).strip()
        return text.splitlines()[0] if text else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def versions(root: str) -> dict:
    from importlib.metadata import version

    import pyspark

    commit = _version(["git", "-C", root, "rev-parse", "--short", "HEAD"])
    return {
        "nproc": nproc(),
        "git_commit": commit if "fatal" not in commit else "unknown",
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "duckdb": version("duckdb"),
        "java": _version(["java", "-version"]),
    }


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used so far by ``root`` and every live
    descendant, each including the children it has reaped (Python
    workers forked by the JVM's daemon, say). Time the host steals from
    the VM is not charged to a process, so this is steadier than wall
    time on a shared host."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    # the command name may hold spaces and parentheses
                    fields = f.read().rsplit(")", 1)[1].split()
            except (OSError, IndexError):
                continue
            stats[int(name)] = (int(fields[1]),
                                sum(int(x) for x in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        ticks += stats.get(pid, (0, 0))[1]
        todo.extend(children.get(pid, []))
    return ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pids: list[int | None]) -> float:
    """Sum of VmHWM (peak resident set) over ``pids``, in MB; ``None``
    entries are skipped."""
    total_kb = 0
    for pid in filter(None, pids):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0
