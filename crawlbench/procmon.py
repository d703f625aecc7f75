"""Peak memory of the Spark driver JVM and its Python workers, sampled
from /proc and from the JVM's management beans.

Memory is the proportional set size (PSS): a page shared by N processes
counts 1/N in each, so the forked Python workers' shared pages are counted
once instead of once per worker as plain RSS would. The driver heap grows
on demand, and how many of its pages are resident follows the collector's
sizing decisions, not what the program holds; so the heap is counted at
its live size instead, measured by full collections after the last
operation."""

from __future__ import annotations

import gc
import os
import threading
import time

# full collections before the last one, each followed by a wait for
# Spark's context cleaner (see JvmHeap.live)
CLEANER_ROUNDS = 2
CLEANER_WAIT_S = 0.5


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                # the command name may hold spaces: ppid follows its ')'
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _pss(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


def _vmas(pid: int):
    """(start, end, Pss bytes) of every mapping in /proc/<pid>/smaps."""
    out, cur = [], None
    with open(f"/proc/{pid}/smaps") as f:
        for line in f:
            head = line.split(None, 1)[0]
            if head.endswith(":"):
                if head == "Pss:" and cur is not None:
                    out.append((cur[0], cur[1], int(line.split()[1]) * 1024))
                    cur = None
            else:
                lo, hi = head.split("-")
                cur = (int(lo, 16), int(hi, 16))
    return out


def heap_range(vmas, max_heap: int) -> tuple[int, int]:
    """The address range of the Java heap: the run of adjacent mappings
    that spans exactly the reserved maximum heap."""
    for i, (lo, hi, _) in enumerate(vmas):
        end, k = hi, i + 1
        while end - lo < max_heap and k < len(vmas) and vmas[k][0] == end:
            end = vmas[k][1]
            k += 1
        if end - lo == max_heap:
            return lo, end
    raise RuntimeError(f"no mapping run spans the {max_heap}-byte Java heap")


class JvmHeap:
    """The driver JVM's heap: its resident pages (from smaps, inside the
    reserved heap range) and its live size (used heap right after a full
    collection, from the management beans over py4j)."""

    def __init__(self, jvm):
        mf = jvm.java.lang.management.ManagementFactory
        diag = mf.getPlatformMXBean(jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean"))
        self.max_heap = int(diag.getVMOption("MaxHeapSize").getValue())
        self.mem = mf.getMemoryMXBean()
        self.system = jvm.java.lang.System
        self.range: tuple[int, int] | None = None

    def resident(self, pid: int) -> int:
        vmas = _vmas(pid)
        if self.range is None:
            self.range = heap_range(vmas, self.max_heap)
        lo, hi = self.range
        return sum(pss for a, b, pss in vmas if lo <= a and b <= hi)

    def live(self) -> int:
        """Collect the whole heap (stop-the-world full collections) and
        return what is still in use. Python's collector runs first: JVM
        objects that only dead Python proxies still point to are released
        when those proxies are collected. Spark's context cleaner then
        drops the broadcasts, shuffles and cached blocks whose owners the
        first full collection found dead, on its own thread; the waits give
        it that time, and the last collection takes what it freed."""
        gc.collect()
        for _ in range(CLEANER_ROUNDS):
            self.system.gc()
            time.sleep(CLEANER_WAIT_S)
        self.system.gc()
        return self.mem.getHeapMemoryUsage().getUsed()


def jvm_pid(root: int) -> int:
    """The Spark driver JVM: the one child process of ``root`` once the
    session is up."""
    kids = _children().get(root, [])
    if len(kids) != 1:
        raise RuntimeError(f"expected the driver JVM as the only child process, found {kids}")
    return kids[0]


class PeakMemory(threading.Thread):
    """Peak memory of the driver JVM ``pid`` and its Python workers (the
    JVM's descendants): the largest sampled PSS outside the Java heap
    (the JVM's other pages plus the workers) plus the largest live heap
    that ``mark_live`` saw. ``peak_pss_bytes`` is the largest plain PSS
    sum and ``peak_parts`` the parts of the peak."""

    def __init__(self, pid: int, heap: JvmHeap, period_s: float = 0.5):
        super().__init__(daemon=True)
        self.pid, self.heap, self.period_s = pid, heap, period_s
        self.peak_pss_bytes = 0
        self.peak_parts = {"jvm off-heap": 0, "workers": 0, "live heap": 0}
        self.error: BaseException | None = None
        self._stop_evt = threading.Event()

    @property
    def peak_bytes(self) -> int:
        return sum(self.peak_parts.values())

    def mark_live(self) -> None:
        """Measure the live heap now (call it between operations: the
        full collection it forces stops the JVM)."""
        self.peak_parts["live heap"] = max(self.peak_parts["live heap"], self.heap.live())

    def sample(self) -> tuple[int, int, int]:
        """(JVM PSS, its resident heap, PSS of the Python workers)."""
        kids = _children()
        workers, todo = 0, list(kids.get(self.pid, []))
        while todo:
            pid = todo.pop()
            workers += _pss(pid)
            todo.extend(kids.get(pid, []))
        return _pss(self.pid), self.heap.resident(self.pid), workers

    def run(self) -> None:
        try:
            while not self._stop_evt.is_set():
                jvm, heap, workers = self.sample()
                self.peak_pss_bytes = max(self.peak_pss_bytes, jvm + workers)
                if jvm - heap + workers > self.peak_parts["jvm off-heap"] + self.peak_parts["workers"]:
                    self.peak_parts.update({"jvm off-heap": jvm - heap, "workers": workers})
                self._stop_evt.wait(self.period_s)
        except Exception as e:  # noqa: BLE001 — reported by the caller
            self.error = e

    def stop(self) -> None:
        self._stop_evt.set()
        self.join(timeout=10)
