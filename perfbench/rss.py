"""Peak memory of a process tree, sampled from /proc.

Run as its own process so the sampled program has no extra thread:

    python3 perfbench/rss.py <pid> <out_file>

Every 250 ms it sums the memory of ``pid`` and all its descendants (the
benchmark process, the JVM it launched and the Python workers the JVM
forks) and keeps the largest sum.  A small process counts its
proportional set size (Pss), which splits each shared page among the
processes that map it, so forked workers sharing their parent's pages
are not counted once per worker.  A process of at least BIG_KIB counts
its resident size instead: walking its page tables for Pss costs tens
of milliseconds of CPU, which would slow the program being measured,
and the one such process, the JVM, shares almost nothing.  On SIGTERM,
or when ``pid`` exits, it writes the peak in MiB to ``out_file`` and
exits.
"""

from __future__ import annotations

import os
import signal
import sys
import time

INTERVAL_S = 0.25
BIG_KIB = 512 * 1024
PAGE_KIB = os.sysconf("SC_PAGE_SIZE") // 1024


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                # the command name may hold spaces: ppid follows the last ')'
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _mem_kib(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            rss = int(f.read().split()[1]) * PAGE_KIB
        if rss >= BIG_KIB:
            return rss
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_kib(root: int) -> int:
    kids = _children()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += _mem_kib(pid)
        todo.extend(kids.get(pid, []))
    return total


def main() -> None:
    root, out = int(sys.argv[1]), sys.argv[2]
    me = os.getpid()
    stop = []
    signal.signal(signal.SIGTERM, lambda *_: stop.append(1))
    peak = 0
    while not stop and os.path.exists(f"/proc/{root}"):
        # the sampler is itself a child of root: leave it out
        peak = max(peak, tree_kib(root) - _mem_kib(me))
        time.sleep(INTERVAL_S)
    with open(out, "w") as f:
        f.write(f"{peak / 1024.0}\n")


if __name__ == "__main__":
    main()
