"""Peak resident memory of a process tree, sampled from /proc."""

from __future__ import annotations

import os
import threading


def _pss_kib(pid: int) -> int:
    """Proportional set size: resident pages, each shared page split
    among the processes mapping it, so forked Python workers do not
    count their parent's pages again."""
    with open(f"/proc/{pid}/smaps_rollup") as fh:
        for line in fh:
            if line.startswith("Pss:"):
                return int(line.split()[1])
    return 0


def tree_pss_bytes(root_pid: int) -> int:
    """Summed PSS of ``root_pid`` and all its descendants (the driver
    Python, the JVM it launches and the JVM's Python workers)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue  # exited while listing
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            total += _pss_kib(pid) * 1024
        except OSError:
            pass  # exited since the listing
    return total


class PeakMemory:
    """Context manager sampling the tree's PSS every ``interval`` seconds
    on a daemon thread; ``peak_mb`` holds the maximum seen."""

    def __init__(self, root_pid: int | None = None, interval: float = 0.2):
        self.root_pid = os.getpid() if root_pid is None else root_pid
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        self.peak_mb = max(self.peak_mb, tree_pss_bytes(self.root_pid) / 2**20)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self) -> "PeakMemory":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
