"""CPU and RSS of a process tree, read from ``/proc``.

CPU of a tree is the sum over its live members of ``utime + stime +
cutime + cstime``. The ``c*`` fields hold the times of children the
process has already reaped, so a Python worker that exits mid-pass
moves its seconds into its parent's count instead of dropping out of
the sum (which would make a pass delta negative).

Self-test (reaped children are counted)::

    python3 perfbench/procstat.py --self-test
"""

from __future__ import annotations

import os
import subprocess
import sys
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces/parens: split after the LAST ')'
    head, _, rest = raw.rpartition(")")
    return [head.split("(", 1)[1]] + rest.split()


def _table() -> dict[int, list[str]]:
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                out[int(name)] = st
    return out


def tree(root: int) -> dict[int, list[str]]:
    """``{pid: stat fields}`` for ``root`` and all its descendants.
    Field 0 is comm; field i (i >= 1) is /proc stat field i + 2."""
    table = _table()
    kids: dict[int, list[int]] = {}
    for pid, st in table.items():
        kids.setdefault(int(st[2]), []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in table:
            out[pid] = table[pid]
            todo.extend(kids.get(pid, ()))
    return out


def cpu_seconds(root: int, python_only: bool = False) -> float:
    """Total CPU seconds of the tree under ``root`` (reaped children
    included); ``python_only`` keeps the Python worker processes."""
    total = 0
    for st in tree(root).values():
        if python_only and not st[0].startswith("python"):
            continue
        total += sum(int(x) for x in st[12:16])  # utime stime cutime cstime
    return total / _TICK


def rss_mb(root: int) -> float:
    return sum(int(st[22]) for st in tree(root).values()) * _PAGE / 2**20


class PeakRss:
    """Background sampler of the tree's summed RSS; ``peak`` in MB."""

    def __init__(self, root: int, every_s: float = 0.1):
        self.root, self.every_s, self.peak = root, every_s, 0.0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            self.peak = max(self.peak, rss_mb(self.root))
            if self._stop.wait(self.every_s):
                return

    def __enter__(self) -> PeakRss:
        self._t.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._t.join()
        self.peak = max(self.peak, rss_mb(self.root))


def self_test() -> None:
    """A child that burns CPU and exits must still count: its seconds
    move into this process's cutime when it is reaped."""
    before = cpu_seconds(os.getpid())
    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass"
    subprocess.run([sys.executable, "-c", burn], check=True)
    gained = cpu_seconds(os.getpid()) - before
    if gained < 0.25:
        raise AssertionError(f"reaped child's CPU not counted: +{gained:.2f} s")


if __name__ == "__main__":
    if sys.argv[1:] != ["--self-test"]:
        sys.exit("usage: procstat.py --self-test")
    self_test()
    print("procstat self-test ok")
