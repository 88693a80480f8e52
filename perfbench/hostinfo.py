"""Host record and process-tree memory sampling, read from ``/proc``.

The host record (load, cores, co-tenant processes, CPU steal) is written
beside every run. Runs are recorded whatever it says, never discarded on
its basis.
"""

from __future__ import annotations

import os
import threading
from pathlib import Path

PAGE = os.sysconf("SC_PAGE_SIZE")
# Another process at least this large, outside our tree, is listed as a
# co-tenant: it competes for this host's cores and memory.
CO_TENANT_RSS_MB = 100


def _stat(pid: str) -> tuple[int, int, str] | None:
    """(ppid, rss pages, command name) of one process, or None if it ended."""
    try:
        raw = Path(f"/proc/{pid}/stat").read_text()
    except OSError:
        return None
    name = raw[raw.index("(") + 1 : raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2 :].split()
    return int(fields[1]), int(fields[21]), name


def _processes() -> dict[int, tuple[int, int, str]]:
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit() and (st := _stat(d)) is not None:
            out[int(d)] = st
    return out


def tree(root: int, procs: dict[int, tuple[int, int, str]]) -> set[int]:
    """``root`` and all its descendants."""
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    seen, todo = set(), [root]
    while todo:
        pid = todo.pop()
        if pid not in seen:
            seen.add(pid)
            todo.extend(children.get(pid, ()))
    return seen


def descendants() -> set[int]:
    return tree(os.getpid(), _processes()) - {os.getpid()}


def host_record() -> dict:
    """1-minute load average, usable cores, and the other JVMs and large
    processes running beside this benchmark."""
    procs = _processes()
    ours = tree(os.getpid(), procs)
    others = [
        {"pid": pid, "name": name, "rss_mb": round(rss * PAGE / 2**20)}
        for pid, (_, rss, name) in procs.items()
        if pid not in ours and (name == "java" or rss * PAGE >= CO_TENANT_RSS_MB * 2**20)
    ]
    return {
        "load_1m": os.getloadavg()[0],
        "nproc": len(os.sched_getaffinity(0)),
        "other_jvms": sum(o["name"] == "java" for o in others),
        "co_tenants": sorted(others, key=lambda o: -o["rss_mb"]),
    }


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) CPU time of the whole host so far, from /proc/stat.
    Steal is time the hypervisor gave this VM's CPUs to someone else."""
    fields = [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]
    return fields[7], sum(fields[:8])


def _pss_bytes(pid: int, name: str, rss_pages: int) -> int:
    """Proportional set size: resident bytes with each shared page split
    among the processes sharing it, so forked Python workers are not
    counted once per fork. The JVM shares nothing with them, and its
    smaps walk costs ~10 ms under the JVM's memory-map lock, so it counts
    its plain RSS."""
    if name == "java":
        return rss_pages * PAGE
    try:
        for line in Path(f"/proc/{pid}/smaps_rollup").read_text().splitlines():
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory (PSS) of this process and its descendants (the
    JVM and its Python workers), sampled on a background thread."""

    def __init__(self, interval_s: float = 0.5) -> None:
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def sample(self) -> int:
        procs = _processes()
        total = sum(_pss_bytes(p, procs[p][2], procs[p][1]) for p in tree(os.getpid(), procs))
        self.peak_bytes = max(self.peak_bytes, total)
        return total

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self) -> RssSampler:
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20
