"""Helpers shared by the workloads: medians, op records, process-tree
memory, directory sizes and the DuckDB connection the checks use."""

from __future__ import annotations

import hashlib
import math
import os
import statistics
from dataclasses import dataclass, field


@dataclass
class OpRecord:
    """One timed user action and what it returned."""

    op_id: int
    kind: str  # search | union | spatial | console | storm | load | corpus step
    params: dict
    ms: float = 0.0
    start: float = 0.0  # epoch seconds, for matching Spark jobs to the op
    end: float = 0.0
    ok: bool = True
    error: str = ""
    digest: object = None
    extra: dict = field(default_factory=dict)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def id_digest(ids) -> tuple[int, str]:
    """(row count, order-insensitive hash of the ids)."""
    ids = [str(i) for i in ids]
    h = hashlib.sha1("\n".join(sorted(ids)).encode()).hexdigest()
    return len(ids), h


def _tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def descendants() -> list[int]:
    """Every live process started (directly or not) by this one."""
    me = os.getpid()
    return [p for p in _tree_pids(me) if p != me]


def tree_peak_rss_mb() -> float:
    """Sum of peak resident memory (VmHWM) over this process and every
    live descendant: the Python driver, the JVM and the Python workers."""
    total_kb = 0
    for pid in _tree_pids(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def cpu_ticks() -> tuple[int, int]:
    """(total, steal) jiffies of the host's CPUs so far."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields[:8]), fields[7]


def dir_stats(path: str) -> tuple[int, int]:
    """(files, bytes) under path."""
    files = size = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            try:
                size += os.path.getsize(os.path.join(dirpath, n))
                files += 1
            except OSError:
                continue
    return files, size


def duckdb_connect():
    """An in-memory DuckDB that never tries to fetch extensions."""
    import duckdb

    con = duckdb.connect(config={
        "autoinstall_known_extensions": False,
        "autoload_known_extensions": False,
        "threads": 2,
    })
    return con


def rows_match(got: list[tuple], want: list[tuple], rel=1e-6) -> bool:
    """Ordered row lists equal, floats within a relative tolerance."""
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if len(g) != len(w):
            return False
        for a, b in zip(g, w):
            if isinstance(a, float) or isinstance(b, float):
                if a is None or b is None:
                    if a is not b:
                        return False
                elif not math.isclose(float(a), float(b), rel_tol=rel, abs_tol=1e-9):
                    return False
            elif _norm(a) != _norm(b):
                return False
    return True


def _norm(v):
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if hasattr(v, "as_integer_ratio") or isinstance(v, int):
        return v
    return v if v is None else str(v)
