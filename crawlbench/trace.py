"""Measurement plumbing: spans around program calls, a py4j call counter,
Spark event-log parsing, a resident-memory sampler over the benchmark's
own process tree, and child-process cleanup.

Everything here wraps the program from outside (module attributes and
class methods are replaced for the life of the process); no program file
is changed.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


# ---------------------------------------------------------------------------
# spans
class Tracer:
    """In-memory spans: (name, start, end, parent). Written out at the end."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack = threading.local()

    def _parents(self) -> list:
        if not hasattr(self._stack, "ids"):
            self._stack.ids = []
        return self._stack.ids

    def span(self, name: str, **attrs):
        tracer = self

        class _Span:
            def __enter__(self):
                ids = tracer._parents()
                self.rec = {"id": len(tracer.spans), "name": name,
                            "parent": ids[-1] if ids else None,
                            "start": time.time(), "end": None, **attrs}
                tracer.spans.append(self.rec)
                ids.append(self.rec["id"])
                return self.rec

            def __exit__(self, *exc):
                self.rec["end"] = time.time()
                tracer._parents().pop()
                return False

        return _Span()

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["end"] is not None]


def wrap_attr(owner, attr: str, tracer: Tracer, name: str, restore: list) -> None:
    """Replace ``owner.attr`` by a span-recording wrapper (plain function,
    method or classmethod); the original goes on ``restore``."""
    raw = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
    is_cm = isinstance(raw, classmethod)
    fn = raw.__func__ if is_cm else raw

    @functools.wraps(fn)
    def wrapper(*a, **kw):
        with tracer.span(name):
            return fn(*a, **kw)

    setattr(owner, attr, classmethod(wrapper) if is_cm else wrapper)
    restore.append((owner, attr, raw))


def unwrap_all(restore: list) -> None:
    while restore:
        owner, attr, raw = restore.pop()
        setattr(owner, attr, raw)


class Py4jCounter:
    """Counts py4j commands sent from this process (every JVM call the
    Python driver makes), by wrapping the client classes' send_command."""

    def __init__(self):
        self.n = 0
        self._lock = threading.Lock()
        self._restore: list = []

    def install(self) -> None:
        from py4j.java_gateway import GatewayClient

        raw = GatewayClient.__dict__["send_command"]
        counter = self

        def wrapper(client, *a, **kw):
            with counter._lock:
                counter.n += 1
            return raw(client, *a, **kw)

        GatewayClient.send_command = wrapper
        self._restore.append((GatewayClient, "send_command", raw))

    def uninstall(self) -> None:
        unwrap_all(self._restore)


# ---------------------------------------------------------------------------
# Spark event log
def read_event_log(event_dir: str) -> dict:
    """Jobs and tasks from the (finished) event log in ``event_dir`` — a
    single file, or Spark's rolling layout (``eventlog_v2_<app>/events_*``).

    Returns {"jobs": [{id, start, end, stages}], "tasks": [{stage, job,
    launch, finish, cpu_s, gc_s, shuffle_write, spill, input, output}]}
    with times in epoch seconds and sizes in bytes."""
    files = sorted(
        os.path.join(d, f) for d, _, fs in os.walk(event_dir) for f in fs
        if not f.startswith((".", "appstatus"))
    )
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    for path in files:
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = {"id": jid, "start": ev["Submission Time"] / 1000.0,
                                 "end": None, "stages": ev.get("Stage IDs", [])}
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    info = ev.get("Task Info", {})
                    m = ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tasks.append({
                        "stage": ev["Stage ID"],
                        "launch": info.get("Launch Time", 0) / 1000.0,
                        "finish": info.get("Finish Time", 0) / 1000.0,
                        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                        "input": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                        "output": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
                    })
    for t in tasks:
        t["job"] = stage_job.get(t["stage"])
    return {"jobs": sorted(jobs.values(), key=lambda j: j["start"]), "tasks": tasks}


def jobs_within(log: dict, t0: float, t1: float) -> list[dict]:
    return [j for j in log["jobs"] if t0 <= j["start"] < t1]



def covered_seconds(intervals: list[tuple[float, float]], t0: float, t1: float) -> float:
    """Length of the union of ``intervals`` clipped to [t0, t1]."""
    spans = sorted((max(a, t0), min(b, t1)) for a, b in intervals if b > t0 and a < t1)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in spans:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def runtime_metrics(log: dict, windows: list[tuple[float, float]]) -> dict:
    """Spark task metrics of the jobs submitted within the timed windows."""
    ids = {j["id"] for a, b in windows for j in jobs_within(log, a, b)}
    ts = [t for t in log["tasks"] if t["job"] in ids]
    mb = 1024.0 * 1024.0
    return {
        "spark.executor_cpu_s": sum(t["cpu_s"] for t in ts),
        "spark.gc_s": sum(t["gc_s"] for t in ts),
        "spark.tasks": len(ts),
        "spark.shuffle_write_mb": sum(t["shuffle_write"] for t in ts) / mb,
        "spark.spill_mb": sum(t["spill"] for t in ts) / mb,
        "spark.input_mb": sum(t["input"] for t in ts) / mb,
        "spark.output_mb": sum(t["output"] for t in ts) / mb,
    }


# ---------------------------------------------------------------------------
# process tree: memory sampling and cleanup
def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="ascii", errors="replace") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm", encoding="ascii") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


class RssSampler:
    """Samples the summed resident memory of this process and all its
    descendants (driver JVM, Python daemon and workers) every ``period``
    seconds; ``peak_mb`` is the largest sum seen."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        total = sum(_rss_bytes(p) for p in [me, *descendants(me)])
        self.peak = max(self.peak, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self._sample()

    def start(self) -> "RssSampler":
        self._sample()
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
        return self.peak / (1024.0 * 1024.0)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, shut the driver JVM down and wait for every
    process this benchmark started to end (killing stragglers). Python
    workers are grandchildren: they are listed before the JVM goes, since
    they are re-parented away from this process once it has."""
    import signal

    from pyspark import SparkContext

    started = descendants(os.getpid())
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        if spark is not None:
            spark.stop()
    finally:
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:  # the JVM may already be gone
                pass
        if proc is not None:
            try:
                if proc.stdin:
                    proc.stdin.close()
                proc.wait(timeout=timeout)
            except Exception:
                proc.kill()
                proc.wait(timeout=10)
        deadline = time.time() + 10
        while True:
            left = [p for p in set(started) | set(descendants(os.getpid())) if _alive(p)]
            if not left:
                break
            if time.time() > deadline - 8:
                sig = signal.SIGTERM if time.time() < deadline else signal.SIGKILL
                for p in left:
                    try:
                        os.kill(p, sig)
                    except OSError:
                        pass
            time.sleep(0.2)
