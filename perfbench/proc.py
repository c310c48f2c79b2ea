"""Process-tree accounting from /proc: the driver's Python process, its JVM
and the JVM's Python workers."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ")"
    return raw[raw.rindex(")") + 2 :].split()


def tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def identities(root: int) -> set[tuple[int, int]]:
    """(pid, start time) of ``root`` and its live descendants; the start
    time tells a process from a later one that reuses its pid."""
    out = set()
    for pid in tree(root):
        st = _stat(pid)
        if st is not None:
            out.add((pid, int(st[19])))
    return out


def alive(ident: tuple[int, int]) -> bool:
    st = _stat(ident[0])
    return st is not None and int(st[19]) == ident[1] and st[0] != "Z"


def cpu_seconds(root: int) -> float:
    """User+system CPU of the tree, including reaped children."""
    total = 0
    for pid in tree(root):
        st = _stat(pid)
        if st is not None:
            total += sum(int(x) for x in st[11:15])  # utime stime cutime cstime
    return total / _TICK


def rss_bytes(root: int) -> int:
    total = 0
    for pid in tree(root):
        st = _stat(pid)
        if st is not None:
            total += int(st[21]) * _PAGE
    return total
