"""Process-tree readings from /proc: CPU time, bytes written, peak RSS."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            f = _stat(int(d))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _write_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/io") as fh:
            for line in fh:
                if line.startswith("write_bytes:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_usage(root: int) -> dict[str, float]:
    """CPU seconds and bytes written to storage by the process tree under
    ``root``: its live processes plus the children they have reaped
    (launcher scripts, finished Python workers)."""
    cpu, written = 0.0, 0
    for pid in descendants(root):
        f = _stat(pid)
        if f is None:
            continue
        # fields 14-17 of /proc/<pid>/stat (utime, stime, cutime,
        # cstime), counted from the state field, which is field 3
        cpu += sum(int(x) for x in f[11:15]) / _TICK
        written += _write_bytes(pid)
    return {"cpu_s": cpu, "write_bytes": written}


def host_steal_s() -> float:
    """CPU seconds since boot that the hypervisor gave to other guests
    instead of this machine (the steal column of /proc/stat)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / _TICK


def _vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _is_java(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip() == "java"
    except OSError:
        return False


def peak_rss_mb(driver: int) -> dict[str, float]:
    """Peak resident set (VmHWM) of the Python driver and of its JVM."""
    jvm = sum(_vm_hwm_mb(p) for p in descendants(driver)[1:] if _is_java(p))
    return {"driver_mb": _vm_hwm_mb(driver), "jvm_mb": jvm}
