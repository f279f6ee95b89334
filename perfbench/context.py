"""Run context and noise record: what box, what arithmetic, how quiet.

Every run record carries the facts needed to tell a real change from a
noisy window: CPU steal and iowait and the load average sampled around each
timed operation, and the versions and OpenBLAS kernel family the process
loaded (the family changes kriging bytes, so a store's content depends on
it). Everything here reads /proc or the loaded libraries; nothing starts a
thread or a process.
"""

from __future__ import annotations

import ctypes
import os
import platform


def cpu_times() -> dict:
    """Aggregate jiffies from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        parts = f.readline().split()[1:]
    names = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")
    vals = [int(x) for x in parts[: len(names)]]
    vals += [0] * (len(names) - len(vals))
    return dict(zip(names, vals))


def loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


class NoiseProbe:
    """Steal/iowait share of all CPU time and the 1-minute load average over
    one interval: `start()` before an operation, `stop()` after it."""

    def start(self) -> None:
        self._t0 = cpu_times()
        self._load0 = loadavg_1m()

    def stop(self) -> dict:
        t1 = cpu_times()
        d = {k: t1[k] - self._t0[k] for k in t1}
        total = sum(d.values()) or 1
        return {
            "steal_frac": round(d["steal"] / total, 5),
            "iowait_frac": round(d["iowait"] / total, 5),
            "load_1m": [self._load0, loadavg_1m()],
        }


def openblas_core() -> str | None:
    """The kernel family numpy's bundled OpenBLAS picked at load time (for
    example SkylakeX or Prescott), read from the library the process has
    already mapped. None when no OpenBLAS is loaded."""
    import numpy  # noqa: F401  (loads the BLAS this reports on)

    with open("/proc/self/maps") as f:
        paths = {line.split()[-1] for line in f if "openblas" in line.lower()}
    for path in sorted(paths):
        lib = ctypes.CDLL(path)
        for sym in ("openblas_get_corename64_", "openblas_get_corename"):
            fn = getattr(lib, sym, None)
            if fn is not None:
                fn.restype = ctypes.c_char_p
                fn.argtypes = []
                return fn().decode()
    return None


def git_commit(root: str) -> str | None:
    """HEAD commit of the checkout, read from .git without running git;
    None when the checkout is not a git repository."""
    head = os.path.join(root, ".git", "HEAD")
    if not os.path.isfile(head):
        return None
    with open(head) as f:
        ref = f.read().strip()
    if not ref.startswith("ref: "):
        return ref
    name = ref[5:]
    loose = os.path.join(root, ".git", name)
    if os.path.isfile(loose):
        with open(loose) as f:
            return f.read().strip()
    packed = os.path.join(root, ".git", "packed-refs")
    if os.path.isfile(packed):
        with open(packed) as f:
            for line in f:
                sha, _, r = line.strip().partition(" ")
                if r == name:
                    return sha
    return None


def run_context(root: str, seed: int, cores: int) -> dict:
    import numpy
    import pandas
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "spark_cores": cores,
        "seed": seed,
        "git_commit": git_commit(root),
        "python": platform.python_version(),
        "numpy": numpy.__version__,
        "pandas": pandas.__version__,
        "pyspark": pyspark.__version__,
        "openblas_core": openblas_core(),
        "openblas_coretype_env": os.environ.get("OPENBLAS_CORETYPE"),
    }


def _children(pid: int) -> list[int]:
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid is the 2nd field after ')'
        if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
            out.append(int(name))
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int) -> float:
    """Sum of the peak resident set (VmHWM) of the driver JVM and every
    process below it (the pyspark daemon and its Python workers). Each
    process's own high-water mark is kernel-kept, so no sampling thread is
    needed; the sum bounds the true simultaneous peak from above."""
    seen, todo, total = set(), [jvm_pid], 0
    while todo:
        pid = todo.pop()
        if pid in seen:
            continue
        seen.add(pid)
        total += _hwm_kb(pid)
        todo.extend(_children(pid))
    return total / 1024.0


def _cpu_ticks(pid: int) -> int:
    """utime + stime of the process and of its reaped children."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    return sum(int(x) for x in fields[11:15])


def tree_cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by this process, the driver JVM and every
    process below it (the pyspark daemon and its Python workers), live or
    reaped. CPU time the hypervisor stole is not in it."""
    seen, todo, ticks = set(), [jvm_pid], 0
    while todo:
        pid = todo.pop()
        if pid in seen:
            continue
        seen.add(pid)
        ticks += _cpu_ticks(pid)
        todo.extend(_children(pid))
    own = os.times()
    return ticks / os.sysconf("SC_CLK_TCK") + own.user + own.system
