"""CPU, memory and host-load readings from /proc (no psutil needed)."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, str, float, float] | None:
    """(ppid, comm, own cpu s, reaped children's cpu s) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2 :].split()
    own = (int(fields[11]) + int(fields[12])) / _TICK
    reaped = (int(fields[13]) + int(fields[14])) / _TICK
    return int(fields[1]), comm, own, reaped


def process_tree(root: int) -> dict[int, tuple[int, str, float, float]]:
    """Every live process under ``root`` (``root`` included)."""
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                procs[int(name)] = st
    tree, frontier = {}, [root]
    while frontier:
        pid = frontier.pop()
        if pid in procs and pid not in tree:
            tree[pid] = procs[pid]
            frontier.extend(p for p, st in procs.items() if st[0] == pid)
    return tree


class CpuSample:
    """CPU seconds split into the driver (this process), the JVM and the
    Python workers the JVM runs. A process's reaped children count in
    its own total, so work of exited workers is kept."""

    def __init__(self):
        root = os.getpid()
        tree = process_tree(root)
        self.driver = tree[root][2] if root in tree else 0.0
        jvms = [p for p, st in tree.items() if st[0] == root and st[1] == "java"]
        self.jvm_pid = jvms[0] if jvms else None
        self.jvm = sum(tree[p][2] for p in jvms)
        self.worker_pids = {p for p, st in tree.items() if p != root and st[1].startswith("python")}
        self.workers = sum(tree[p][2] + tree[p][3] for p in self.worker_pids)
        # everything else under the root: launcher shells and the like
        self.total = sum(st[2] + st[3] for st in tree.values())


def rss_peak_mb(pid: int | None) -> float:
    if pid is None:
        return 0.0
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def cpu_ticks() -> tuple[int, int]:
    """(total, steal) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals[:8]), vals[7] if len(vals) > 7 else 0


def loadavg() -> float:
    return os.getloadavg()[0]
