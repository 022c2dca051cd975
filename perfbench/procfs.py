"""Process-tree readings from /proc: memory (PSS), CPU time, host speed.

psutil is not available, so the benchmark reads /proc directly. The
process tree is the benchmark's own Python process plus every
descendant: the Spark JVM and the Python workers it forks.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import subprocess
import sys
import threading

_TICKS = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields restart after its ')'
    return raw[raw.rindex(")") + 2:].split()


def process_tree(root: int) -> list[int]:
    """`root` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def is_running(pid: int) -> bool:
    """True while `pid` exists and is not a zombie."""
    fields = _stat_fields(pid)
    return fields is not None and fields[0] != "Z"


def tree_cpu_seconds(root: int) -> float:
    """User+system CPU of the tree, including reaped children.

    A worker that exits moves its time into its parent's cutime/cstime,
    so the sum stays continuous while workers come and go."""
    total = 0
    for pid in process_tree(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime are fields 14-17 of stat(5)
            total += sum(int(v) for v in fields[11:15])
    return total / _TICKS


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_pss_mb(root: int) -> float:
    return sum(_pss_kb(pid) for pid in process_tree(root)) / 1024.0


class PeakPss:
    """Peak of the tree's summed PSS while the program works.

    A background thread samples only inside `window()` blocks, which the
    runner opens around each pass, so the verifier's own memory (DuckDB,
    the numpy references, the digest reads) is never sampled. Each block
    appends its own peak to `window_peaks_mb`. Reading a JVM's
    smaps_rollup costs ~10 ms of kernel time, so the interval is kept
    long enough not to slow the pass it samples."""

    def __init__(self, root: int, interval_s: float = 0.5):
        self.root = root
        self.interval_s = interval_s
        self.window_peaks_mb: list[float] = []
        self._peak = 0.0
        self._lock = threading.Lock()
        self._active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="pss-sampler", daemon=True)

    def _sample(self) -> None:
        mb = tree_pss_mb(self.root)
        with self._lock:
            self._peak = max(self._peak, mb)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            if self._active.is_set():
                self._sample()

    @contextlib.contextmanager
    def window(self):
        """Sample while the block runs, and once more at its end."""
        with self._lock:
            self._peak = 0.0
        self._active.set()
        try:
            yield
        finally:
            self._active.clear()
            self._sample()
            with self._lock:
                self.window_peaks_mb.append(self._peak)

    def __enter__(self) -> "PeakPss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


_PROBE_LOOP = (
    "import time\n"
    "t = time.perf_counter()\n"
    "acc = 0\n"
    "for i in range(3_000_000):\n"
    "    acc = (acc + i * i) % 1_000_003\n"
    "print(time.perf_counter() - t)\n"
)


def host_speed_probe(procs: int = 4) -> float:
    """Median seconds for `procs` processes to each run one fixed integer
    loop at the same time. A diagnostic beside every run, never a gated
    metric: it moves with the host, not with the program."""
    workers = [subprocess.Popen([sys.executable, "-c", _PROBE_LOOP],
                                stdout=subprocess.PIPE, text=True)
               for _ in range(procs)]
    times = [float(w.communicate(timeout=120)[0]) for w in workers]
    return statistics.median(times)
