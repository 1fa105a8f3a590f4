"""The benchmark process tree, read from /proc."""

from __future__ import annotations

import os

CLK_TCK = os.sysconf("SC_CLK_TCK")


def proc_table() -> "dict[int, tuple[int, int, int]]":
    """{pid: (parent pid, resident pages, CPU ticks)} of every live
    process."""
    out = {}
    for d in os.listdir("/proc"):
        try:
            with open(f"/proc/{d}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except (OSError, ValueError):
            continue
        if d.isdigit():
            out[int(d)] = (int(f[1]), int(f[21]), int(f[11]) + int(f[12]))
    return out


def descendants(table: dict) -> "set[int]":
    tree, grown = {os.getpid()}, True
    while grown:
        before = len(tree)
        tree |= {p for p, (pp, *_) in table.items() if pp in tree}
        grown = len(tree) > before
    return tree - {os.getpid()}


def tree_cpu_s() -> float:
    """User plus system CPU seconds of this process and every live
    descendant (the JVM and its Python workers)."""
    table = proc_table()
    pids = descendants(table) | {os.getpid()}
    return sum(table[p][2] for p in pids if p in table) / CLK_TCK
