"""Peak resident memory of the Spark driver JVM and its Python workers.

Linux only: reads /proc. Writing "5" to /proc/<pid>/clear_refs resets the
process's peak RSS (VmHWM) to its current RSS, so a peak read after one
iteration is that iteration's peak, not the process lifetime's.
"""

from __future__ import annotations

import os


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        # comm may hold spaces or parens: the fields after the last ')' are fixed
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int) -> list[int]:
    """`root` and every live descendant (the JVM, the pyspark daemon and
    the workers it forks)."""
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass  # exited: its memory is gone
    return 0


def reset_peaks(root: int) -> None:
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass  # exited since the listing


def peak_rss_mb(root: int) -> float:
    """Sum of VmHWM over the tree, in MiB."""
    return sum(_status_kb(p, "VmHWM") for p in process_tree(root)) / 1024.0


def rss_mb(pid: int) -> float:
    return _status_kb(pid, "VmRSS") / 1024.0


def host_mem_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("MemTotal missing from /proc/meminfo")
