"""Tracing helpers: in-process spans, Spark event-log totals, process-tree RSS.

Nothing here touches the engine package. Spans are taken around the calls
the benchmark makes into the engine's public functions; Spark's own event
log (written only by traced sessions) supplies executor-side numbers.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

# Local property that tags every Spark job with the benchmark phase that
# submitted it, so event-log totals can be split by phase.
PHASE_PROPERTY = "perfbench.phase"


class Spans:
    """In-memory span log: (layer, phase, start, end) in perf_counter seconds."""

    def __init__(self) -> None:
        self.records: list[tuple[str, str, float, float]] = []
        self.phase = "setup"

    @contextmanager
    def span(self, layer: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.records.append((layer, self.phase, t0, time.perf_counter()))

    def total(self, layer: str, phase: str | None = None) -> float:
        return sum(e - s for lyr, ph, s, e in self.records
                   if lyr == layer and (phase is None or ph == phase))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([{"layer": lyr, "phase": ph, "start": s, "end": e}
                       for lyr, ph, s, e in self.records], f)


def _children(pid: int) -> list[int]:
    out: list[int] = []
    for task in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(task) as f:
                out.extend(int(p) for p in f.read().split())
        except OSError:
            continue
    return out


def process_tree(pid: int) -> list[int]:
    """``pid`` and every live descendant (JVM, Python workers)."""
    seen, stack = [], [pid]
    while stack:
        p = stack.pop()
        seen.append(p)
        stack.extend(_children(p))
    return seen


def tree_cpu_s(pid: int) -> float:
    """CPU time (user + system) of ``pid`` and its live descendants,
    including the descendants each has already reaped."""
    total = 0
    for p in process_tree(pid):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / os.sysconf("SC_CLK_TCK")


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class TreeRssSampler:
    """Samples the RSS summed over this process tree every ``interval`` s."""

    def __init__(self, interval: float = 0.25) -> None:
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, sum(_rss_mb(p) for p in process_tree(me)))
            self._stop.wait(self.interval)

    def __enter__(self) -> "TreeRssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# Task-level accumulables the Python UDF operators report (all in ms or bytes).
_PY_ACCUMS = {
    "time to initialize Python workers": "python_init_ms",
    "time to run Python workers": "python_run_ms",
    "data sent to Python workers": "bytes_to_python",
    "data returned from Python workers": "bytes_from_python",
}


def _event_files(log_dir: str) -> list[str]:
    files = []
    for entry in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, entry)
        if os.path.isdir(path):  # rolling eventlog_v2_* directory
            files.extend(sorted(glob.glob(os.path.join(path, "events_*"))))
        elif not entry.startswith("."):
            files.append(path)
    return files


def event_log_totals(log_dir: str) -> dict[str, dict[str, float]]:
    """Sum jobs, stages, tasks and task metrics per phase from an
    uncompressed Spark event log. Times come back in seconds."""
    stage_phase: dict[int, str] = {}
    tot: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for path in _event_files(log_dir):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    phase = (ev.get("Properties") or {}).get(PHASE_PROPERTY, "setup")
                    tot[phase]["jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    phase = (ev.get("Properties") or {}).get(PHASE_PROPERTY, "setup")
                    stage_phase[ev["Stage Info"]["Stage ID"]] = phase
                    tot[phase]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    t = tot[stage_phase.get(ev["Stage ID"], "setup")]
                    m = ev.get("Task Metrics") or {}
                    t["tasks"] += 1
                    t["run_s"] += m.get("Executor Run Time", 0) / 1e3
                    t["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    t["deserialize_s"] += m.get("Executor Deserialize Time", 0) / 1e3
                    sw = m.get("Shuffle Write Metrics") or {}
                    t["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    t["shuffle_fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        key = _PY_ACCUMS.get(acc.get("Name"))
                        if key is not None:
                            t[key] += float(acc.get("Update") or 0)
    return {phase: dict(v) for phase, v in tot.items()}
