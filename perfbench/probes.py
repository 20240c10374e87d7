"""Outside-in instrumentation: span wrappers around the engine's public
calls, a py4j command counter, a process-tree RSS sampler, a host speed
sampler and a Spark event-log reader. Nothing here edits engine code —
wrappers are set on the module/class attributes the engine resolves at
call time and are removed again by ``Tracer.uninstall``."""

from __future__ import annotations

import functools
import json
import os
import statistics
import subprocess
import sys
import threading
import time


class Tracer:
    """In-memory span recorder. ``wrap(owner, attr, name)`` replaces
    ``owner.attr`` with a wrapper that records (name, start, end,
    parent) per call; spans are plain dicts kept in ``self.spans``."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self.enabled = False
        #: optional zero-arg callable sampled at span start/end (c0/c1)
        self.counter = None

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            span = {"name": name, "start": time.time(), "end": None,
                    "parent": tracer._stack[-1] if tracer._stack else None,
                    "args": args, "kwargs": kwargs,
                    "c0": tracer.counter() if tracer.counter else 0}
            tracer.spans.append(span)
            tracer._stack.append(len(tracer.spans) - 1)
            try:
                result = orig(*args, **kwargs)
            finally:
                tracer._stack.pop()
                span["end"] = time.time()
                span["c1"] = tracer.counter() if tracer.counter else 0
            if on_result is not None:
                on_result(span, result)
            return result

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def named(self, name: str, since: float = 0.0,
              until: float = float("inf")) -> list[dict]:
        """Spans called ``name`` that started in [since, until]."""
        return [s for s in self.spans
                if s["name"] == name and since <= s["start"] <= until]

    def dump(self, path: str) -> None:
        """Write the spans (without call arguments) as JSON lines."""
        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                fh.write(json.dumps({"id": i, "name": s["name"],
                                     "start": s["start"], "end": s["end"],
                                     "parent": s["parent"]}) + "\n")


class Py4JCounter:
    """Counts py4j commands the driver sends to the JVM."""

    def __init__(self, spark):
        self.count = 0
        self.enabled = False
        self._client = spark.sparkContext._gateway._gateway_client
        orig = self._client.send_command

        def send_command(*args, **kwargs):
            if self.enabled:
                self.count += 1
            return orig(*args, **kwargs)

        self._client.send_command = send_command

    def uninstall(self) -> None:
        self._client.__dict__.pop("send_command", None)


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
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


def tree_rss_bytes(pid: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            pass
    return total


class RssSampler:
    """Background sampler of this process tree's summed RSS; ``peak``
    is the highest sample since the last ``reset``."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.wait(self.interval):
            self.peak = max(self.peak, tree_rss_bytes(me))

    def reset(self) -> None:
        self.peak = tree_rss_bytes(os.getpid())

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()


_SAMPLER = """
import sys, time


def unit(n):
    x, seen = 0, {}
    for i in range(n):
        x = (x * 1000003 + i) & 0xFFFFFFFF
        if i & 255 == 0:
            seen[x] = i


interval, n = float(sys.argv[1]), int(sys.argv[2])
due = time.time()
while True:
    c0 = time.thread_time()
    unit(n)
    try:
        print(time.time(), time.thread_time() - c0, flush=True)
    except BrokenPipeError:
        break
    due = max(due + interval, time.time())  # skip slots missed in a stall
    time.sleep(max(0.0, due - time.time()))
"""


class SpeedSampler:
    """Host speed, sampled while the benchmark runs. A child process
    times a fixed pure-Python work unit every ``interval`` seconds of
    wall time and reports the CPU seconds it took. The VM is not told
    when the host takes its cores away, so CPU time of fixed work grows
    as the host slows, while waiting behind other threads of the VM is
    not counted: ``slowness(t0, t1)`` (mean unit CPU time in the window
    over ``quiet_s``) is the factor by which the host slowed work done
    in [t0, t1]. It takes about 1.5 % of one core on the quiet host."""

    def __init__(self, quiet_s: float, interval: float = 0.05,
                 n: int = 10_000):
        self.quiet_s = quiet_s
        self.samples: list[tuple[float, float]] = []
        self._proc = subprocess.Popen(
            [sys.executable, "-c", _SAMPLER, str(interval), str(n)],
            stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True)
        self._thread = threading.Thread(target=self._read, daemon=True)
        self._thread.start()

    def _read(self) -> None:
        for line in self._proc.stdout:
            fields = line.split()
            if len(fields) == 2:  # not a line cut short by stop()
                self.samples.append((float(fields[0]), float(fields[1])))

    def slowness(self, t0: float, t1: float) -> float:
        xs = [c for t, c in self.samples if t0 <= t <= t1]
        return statistics.fmean(xs) / self.quiet_s

    def stop(self) -> None:
        if self._proc.poll() is None:
            self._proc.terminate()
        self._proc.wait()
        self._thread.join()


def read_event_log(path: str) -> dict:
    """Jobs, stages and tasks from an uncompressed Spark event log.
    Times are epoch milliseconds (the same clock as time.time())."""
    jobs, stages, tasks = [], [], []
    with open(path) as fh:
        for line in fh:
            try:
                e = json.loads(line)
            except json.JSONDecodeError:
                continue
            ev = e.get("Event")
            if ev == "SparkListenerJobStart":
                jobs.append(e["Submission Time"])
            elif ev == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                stages.append(si.get("Submission Time") or 0)
            elif ev == "SparkListenerTaskEnd":
                ti, tm = e["Task Info"], e.get("Task Metrics") or {}
                sw = tm.get("Shuffle Write Metrics") or {}
                tasks.append({
                    "launch": ti["Launch Time"], "finish": ti["Finish Time"],
                    "gc_ms": tm.get("JVM GC Time", 0),
                    "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                    "spill": (tm.get("Memory Bytes Spilled", 0)
                              + tm.get("Disk Bytes Spilled", 0))})
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


def engine_counters(log: dict, start: float, end: float) -> dict:
    """Spark engine counters for the wall window [start, end] (seconds):
    job/stage counts by submission time, task-seconds, GC, shuffle
    write, spill, and idle time — the part of the window with zero
    running tasks, i.e. driver-only time."""
    lo, hi = start * 1000.0, end * 1000.0
    tasks = [t for t in log["tasks"] if t["launch"] >= lo and t["finish"] <= hi]
    edges = sorted([(t["launch"], 1) for t in tasks]
                   + [(t["finish"], -1) for t in tasks])
    idle, running, last = 0.0, 0, lo
    for at, delta in edges:
        if running == 0:
            idle += max(0.0, at - last)
        running += delta
        last = at
    idle += max(0.0, hi - last) if running == 0 else 0.0
    return {
        "jobs": sum(1 for j in log["jobs"] if lo <= j <= hi),
        "stages": sum(1 for s in log["stages"] if lo <= s <= hi),
        "task_s": sum(t["finish"] - t["launch"] for t in tasks) / 1000.0,
        "idle_s": idle / 1000.0,
        "gc_s": sum(t["gc_ms"] for t in tasks) / 1000.0,
        "shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
        "spill_bytes": sum(t["spill"] for t in tasks),
    }
