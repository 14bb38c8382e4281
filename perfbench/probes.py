"""Readings taken from outside the program: ``/proc`` for CPU and
memory of the Python process and its descendants (the JVM and its
Python workers), and Spark's own status store for shuffle bytes and
cached storage."""

from __future__ import annotations

import os
import signal
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:  # exited between listing and reading
        return None
    # fields after the parenthesised command name, which may hold spaces
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat(int(entry))
            if fields:
                children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def wait_gone(pids: list[int], timeout_s: float = 30.0) -> None:
    """Wait until every process in ``pids`` has ended (a zombie counts
    as ended); after ``timeout_s`` kill what is left and wait again."""

    def alive() -> list[int]:
        return [p for p in pids if (f := _stat(p)) is not None and f[0] != "Z"]

    deadline = time.monotonic() + timeout_s
    while alive() and time.monotonic() < deadline:
        time.sleep(0.05)
    for pid in alive():
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:  # ended meanwhile
            pass
    while alive():
        time.sleep(0.05)


def tree_cpu_s(root: int | None = None) -> float:
    """User+system CPU seconds of ``root`` (default: this process) and
    every live descendant, including their reaped children."""
    total = 0
    for pid in descendants(root or os.getpid()):
        fields = _stat(pid)
        if fields:
            # utime, stime, cutime, cstime (stat fields 14-17)
            total += sum(int(x) for x in fields[11:15])
    return total / CLK_TCK


def steal_s() -> float:
    """CPU seconds the hypervisor gave to other guests, all CPUs
    (``steal`` in ``/proc/stat``): a reading of host contention."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / CLK_TCK


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (``VmHWM``) of one process in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class SparkStatus:
    """Spark's in-process status store, read through the JVM gateway."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._jvm = spark._jvm
        self.jvm_pid = int(self._jvm.java.lang.ProcessHandle.current().pid())
        self._seen_stage = -1

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so
        the store holds all finished stages."""
        self._jsc.listenerBus().waitUntilEmpty()

    def shuffle_write_bytes_since_last(self) -> int:
        """Shuffle bytes written by stages that finished since the
        previous call (stage ids only grow)."""
        self.drain()
        store = self._jsc.statusStore()
        stages = store.stageList(None, False, False, self._sc._gateway.new_array(self._jvm.double, 0), None)
        total, top = 0, self._seen_stage
        for s in self._jvm.scala.jdk.javaapi.CollectionConverters.asJava(stages):
            sid = s.stageId()
            if sid > self._seen_stage:
                total += s.shuffleWriteBytes()
                top = max(top, sid)
        self._seen_stage = top
        return total

    def cached_mb(self) -> float:
        infos = self._jsc.getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / 1e6
