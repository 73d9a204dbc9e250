"""Measurement plumbing: spans, the memory probes, the event-log fold and the
teardown that waits for every process the Spark session started.

Spans are recorded around the benchmark's own calls into each layer, kept
in memory and written out once at exit. The event log (traced runs only,
uncompressed JSON lines) is folded with the standard library into task
totals per unit window.
"""

from __future__ import annotations

import json
import os
import signal
import threading
import time


class Spans:
    def __init__(self):
        self.items: list[dict] = []

    def add(self, name: str, t0_epoch: float, wall_s: float, **attrs) -> None:
        self.items.append({"name": name, "start_ms": round(t0_epoch * 1000, 3),
                           "wall_s": wall_s, **attrs})

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({**extra, "spans": self.items}, f, indent=1)


# --- process tree ---------------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().startswith("python")
    except OSError:
        return False


def _hwm_bytes(pid: int) -> int:
    """The process's peak resident set size so far (VmHWM)."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except (OSError, ValueError):
        pass
    return 0


class WorkerRssSampler(threading.Thread):
    """Peak resident memory of the JVM's Python workers: the sum of each
    live worker's own peak (VmHWM), polled so that workers that come and go
    are counted while they live."""

    def __init__(self, jvm_pid: int, period_s: float = 1.0):
        super().__init__(daemon=True)
        self.jvm_pid = jvm_pid
        self.period_s = period_s
        self.peak = 0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.is_set():
            # only the Python workers: a child the JVM forks for a file
            # operation starts with the JVM's own peak
            workers = filter(_is_python, descendants(self.jvm_pid))
            self.peak = max(self.peak, sum(map(_hwm_bytes, workers)))
            self._stop_evt.wait(self.period_s)

    def stop(self) -> int:
        self._stop_evt.set()
        self.join()
        return self.peak


def cached_block_bytes(spark) -> int:
    """Bytes of the RDD blocks the session holds cached, in memory and on
    disk (the program's localCheckpoint blocks). The JVM's resident size is
    no measure of what the program keeps: the heap is pre-sized and G1 grows
    into it whatever the program holds."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().split(") ")[-1][:1] != "Z"
    except OSError:
        return False


def stop_session(spark, timeout_s: float = 60.0) -> None:
    """Stop Spark, shut the gateway JVM down and wait until it and every
    process it started (the Python worker daemon and workers) has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    tree = descendants(proc.pid) if proc is not None else []
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout_s)
            except Exception:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + timeout_s
        for pid in tree:
            while _alive(pid) and time.monotonic() < deadline:
                time.sleep(0.05)
            if _alive(pid):
                os.kill(pid, signal.SIGKILL)
                while _alive(pid):
                    time.sleep(0.05)


# --- event log ------------------------------------------------------------

PY_ACCUMS = {
    "data sent to Python workers": "bytes_to_py",
    "data returned from Python workers": "bytes_from_py",
    "time to run Python workers": "py_worker_ms",
}


def fold_eventlog(path: str, windows: dict[str, tuple[float, float]]) -> dict[str, dict]:
    """Task and stage totals for each named [start, end] epoch-second window:
    task run/CPU/GC time, shuffle write and spill bytes (tasks finishing in
    the window), and the Python-runner stages (parse) submitted in it."""
    win_ms = {k: (a * 1000, b * 1000) for k, (a, b) in windows.items()}
    out = {
        k: {"task_ms": 0, "cpu_ns": 0, "gc_ms": 0, "shuffle_write_bytes": 0,
            "spill_bytes": 0, "parse_stage_ms": 0, "py_worker_ms": 0,
            "bytes_to_py": 0, "bytes_from_py": 0}
        for k in windows
    }

    def owners(t_ms: float):
        return [k for k, (a, b) in win_ms.items() if a <= t_ms <= b]

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerTaskEnd":
                tm = ev.get("Task Metrics") or {}
                for k in owners(ev["Task Info"]["Finish Time"]):
                    o = out[k]
                    o["task_ms"] += tm.get("Executor Run Time", 0)
                    o["cpu_ns"] += tm.get("Executor CPU Time", 0)
                    o["gc_ms"] += tm.get("JVM GC Time", 0)
                    o["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    o["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                        "Disk Bytes Spilled", 0)
            elif kind == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                acc = {a.get("Name"): a.get("Value") for a in si.get("Accumulables", [])}
                if "time to run Python workers" not in acc or "Submission Time" not in si:
                    continue
                for k in owners(si["Submission Time"]):
                    o = out[k]
                    o["parse_stage_ms"] += si["Completion Time"] - si["Submission Time"]
                    for name, key in PY_ACCUMS.items():
                        o[key] += int(acc.get(name) or 0)
    return out
