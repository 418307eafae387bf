"""The process tree, read from ``/proc`` (``psutil`` is not installed)."""

from __future__ import annotations

import os


def children() -> dict[int, list[int]]:
    """Parent pid -> pids of its live children, over every process."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(kids: dict[int, list[int]], pid: int) -> list[int]:
    """Every pid below ``pid`` in the tree ``kids``."""
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out
