"""Host facts and process-tree memory read from ``/proc``.

``psutil`` is not available, so the benchmark reads ``/proc`` itself:
total memory for the host-derived Spark settings, the resident memory
of the whole process tree (driver Python, the JVM and its Python
workers) for ``peak_rss_mb``, and the descendants it must wait for at
exit.
"""

from __future__ import annotations

import os
import threading
import time

PAGE = os.sysconf("SC_PAGE_SIZE")
MB = 1024 * 1024


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def process_start_epoch(pid: int | str = "self") -> float:
    """Wall-clock time the process started, from its start tick and the
    boot time."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])  # field 22 of stat; 2 fields precede
    with open("/proc/stat") as f:
        btime = next(int(ln.split()[1]) for ln in f if ln.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def trim_heap() -> None:
    """Hand the driver's freed heap back to the OS. glibc keeps freed
    blocks mapped, so dropped numpy buffers would still count in RSS."""
    import ctypes
    import gc

    gc.collect()
    ctypes.CDLL("libc.so.6").malloc_trim(0)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the host's CPUs since boot. The steal
    share over an interval is the time the hypervisor ran other guests
    on this guest's CPUs: a noise diagnostic next to the host probe."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue  # exited while listing
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    kids = _children()
    out, stack = [], list(kids.get(root, ()))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, ()))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * PAGE
    except (OSError, ValueError, IndexError):
        return 0


def _is_python_worker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"pyspark.daemon" in f.read()
    except OSError:
        return False


class TreeSampler:
    """Background thread that samples the summed RSS of this process and
    all its descendants. ``peak_mb`` is the largest sum seen; the
    ``window`` methods give the peak of the Python workers alone over an
    interval (one query execution)."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._window_workers = 0
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> "TreeSampler":
        self._thread.start()
        return self

    def sample(self) -> None:
        me = os.getpid()
        tree = [me] + descendants(me)
        total = workers = 0
        for pid in tree:
            rss = _rss_bytes(pid)
            total += rss
            if pid != me and _is_python_worker(pid):
                workers += rss
        with self._lock:
            self.peak_bytes = max(self.peak_bytes, total)
            self._window_workers = max(self._window_workers, workers)

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def reset_window(self) -> None:
        with self._lock:
            self._window_workers = 0

    def window_workers_mb(self) -> float:
        self.sample()
        with self._lock:
            return self._window_workers / MB

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / MB

    def stop(self) -> None:
        """Take a last sample and end the thread. Only the first call
        samples, so the peak never includes what runs after it."""
        if self._stop.is_set():
            return
        self.sample()
        self._stop.set()
        self._thread.join(timeout=5)


def wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    """Wait until every pid has exited; return those still alive."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")
                 and not _is_zombie(p)]
        if alive:
            time.sleep(0.1)
    return alive


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True
