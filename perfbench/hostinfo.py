"""Host record and process-tree memory sampling for the benchmark."""

from __future__ import annotations

import hashlib
import os
import platform
import subprocess
import sys
import threading
import time


def load1() -> float:
    return round(os.getloadavg()[0], 2)


def wait_for_quiet_host(max_wait_s: float = 15.0) -> dict:
    """Wait (bounded) while the 1-minute load is above 1.5x the core count.

    The threshold is loose on purpose: the load a previous benchmark run
    leaves behind decays over a minute, and waiting that out on every run
    would cost more than it protects.  The wait only guards against a host
    that someone else is saturating, and the record says whether it was."""
    limit = 1.5 * (os.cpu_count() or 1)
    t0 = time.monotonic()
    load = os.getloadavg()[0]
    while load >= limit and time.monotonic() - t0 < max_wait_s:
        time.sleep(1.0)
        load = os.getloadavg()[0]
    return {
        "load1": round(load, 2),
        "load_limit": limit,
        "quiet": load < limit,
        "waited_s": round(time.monotonic() - t0, 1),
    }


def _mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return round(int(line.split()[1]) / 1024.0, 1)
    return 0.0


def _java_version() -> str:
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else "java"
    try:
        out = subprocess.run(
            [java, "-version"], capture_output=True, text=True, timeout=30
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    lines = (out.stderr or out.stdout).splitlines()
    return lines[0].strip() if lines else "unknown"


def source_revision(root: str) -> dict:
    """The git commit when ``root`` is a checkout, and always a digest of
    the package sources, so that runs from an exported tree (no .git) can
    still be told apart."""
    commit = None
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
        if out.returncode == 0:
            commit = out.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    h = hashlib.sha1()
    pkg = os.path.join(root, "marginaliasearch_spark")
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames.sort()
        for fn in sorted(filenames):
            if fn.endswith(".py"):
                p = os.path.join(dirpath, fn)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return {"git_commit": commit, "source_sha1": h.hexdigest()}


def host_record(root: str) -> dict:
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "mem_total_mb": _mem_total_mb(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": _java_version(),
        "executable": sys.executable,
        **source_revision(root),
    }


def descendants(root_pid: int) -> set[int]:
    """Pids of every live process below ``root_pid``, from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, stack = set(), [root_pid]
    while stack:
        for c in children.get(stack.pop(), ()):
            out.add(c)
            stack.append(c)
    return out


def alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _tree_rss_kb(root_pid: int) -> int:
    """Summed VmRSS of ``root_pid`` and all its descendants (this process,
    the JVM it launched and the Python workers the JVM forked)."""
    total = 0
    for pid in {root_pid} | descendants(root_pid):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total


class RssSampler:
    """Background sampler of the process tree's peak RSS."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(pid))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
