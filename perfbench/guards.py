"""Run guards read from ``/proc``: memory of the processes a run starts,
CPU steal over the run, and the check that every started process ended.

None of these numbers is ever used to scale a gated metric; they explain
drift between boxes and runs.
"""

from __future__ import annotations

import os
import signal
import threading
import time
from typing import Dict, List, Set


def _children_map() -> Dict[int, List[int]]:
    kids: Dict[int, List[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> Set[int]:
    kids, out, todo = _children_map(), set(), [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            if c not in out:
                out.add(c)
                todo.append(c)
    return out


def _rss_kb(pid: int, field: str = "Rss:") -> int:
    """Resident (``Rss:``) or proportional (``Pss:``) set size in kB."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith(field):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _is_jvm(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip() == "java"
    except OSError:
        return False


class RssSampler:
    """Samples the resident memory of this process's descendants (the
    driver JVM and its Python workers) every ``interval`` seconds.  The
    peak is of the summed proportional set size, so pages the forked
    Python workers share are counted once, not once per worker."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_kb = 0
        self.peaks = {"jvm_rss": 0, "py_rss": 0, "jvm_pss": 0, "py_pss": 0, "pss": 0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            cur = {k: 0 for k in self.peaks}
            for p in descendants(me):
                side = "jvm" if _is_jvm(p) else "py"
                cur[side + "_rss"] += _rss_kb(p)
                cur[side + "_pss"] += _rss_kb(p, "Pss:")
            cur["pss"] = cur["jvm_pss"] + cur["py_pss"]
            for k in cur:
                self.peaks[k] = max(self.peaks[k], cur[k])
            self.peak_kb = max(self.peak_kb, cur["pss"])
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak_kb / 1024.0


def cpu_times() -> List[int]:
    with open("/proc/stat") as fh:
        return [int(v) for v in fh.readline().split()[1:]]


def steal_share(before: List[int], after: List[int]) -> float:
    """Share of all CPU time over the interval that the hypervisor
    stole (the 8th field of the ``cpu`` line)."""
    delta = [a - b for a, b in zip(after, before)]
    total = sum(delta[:8])
    return delta[7] / total if total > 0 and len(delta) > 7 else 0.0


def reap(pids: Set[int], timeout: float = 30.0) -> Set[int]:
    """Wait for ``pids`` to end, terminating then killing stragglers.
    Returns the pids still alive (empty on success)."""

    def alive(p: int) -> bool:
        try:
            with open(f"/proc/{p}/stat") as fh:
                return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
        except OSError:
            return False

    for sig, wait in ((None, timeout), (signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        if sig is not None:
            for p in pids:
                if alive(p):
                    try:
                        os.kill(p, sig)
                    except OSError:
                        pass
        deadline = time.time() + wait
        while time.time() < deadline and any(alive(p) for p in pids):
            try:
                os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                pass
            time.sleep(0.1)
        if not any(alive(p) for p in pids):
            return set()
    return {p for p in pids if alive(p)}
