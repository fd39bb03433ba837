"""Measurement from outside the library: spans, process-tree RSS and the
Spark event log.

- ``Tracer`` keeps spans (name, start, end, parent, run id) in memory
  around each call the benchmark makes into a layer; ``write`` saves
  them when the run ends.
- ``RssSampler`` samples the resident memory of this process and all of
  its descendants (the driver JVM and its Python workers) from ``/proc``.
- ``read_event_log`` reads a Spark event log into stages, each with its
  job group and the plan nodes it ran; ``stage_metrics`` sums task
  metrics over a set of them.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import threading
import time


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self.phase: str | None = None  # recorded on every span opened
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Record one span; yields its dict so callers can add counts."""
        rec = {"id": len(self.spans), "name": name, "run": self.run_id,
               "phase": self.phase,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def durations(self, name: str, phase: str | None = None) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None
                and phase in (None, s["phase"])]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=0)


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # process ended while scanning
            continue
        # the command name may contain spaces: the ppid follows its ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def tree_rss_bytes(root: int) -> int:
    kids = _children_map()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except OSError:
            continue
    return total


class RssSampler:
    """Peak RSS of this process tree, sampled every ``interval`` seconds
    on a daemon thread between ``start`` and ``stop``."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
            self._stop.wait(self.interval)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> float:
        """Stop sampling; return the peak in MB."""
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak / 1e6


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs so far, from ``/proc/stat``:
    time the hypervisor gave to other guests shows up as steal."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

MB = 1e6


def _scopes(stage_info: dict) -> set[str]:
    names = set()
    for rdd in stage_info.get("RDD Info", ()):
        scope = rdd.get("Scope")
        if scope:
            names.add(json.loads(scope)["name"].strip())
    return names


ARROW_ROWS = "MapInArrow output rows"


def _arrow_row_accumulators(plan: dict) -> set[int]:
    """Accumulator ids of the ``number of output rows`` metric of every
    MapInArrow node in a physical plan tree."""
    ids = set()
    todo = [plan]
    while todo:
        node = todo.pop()
        todo.extend(node.get("children", ()))
        if "MapInArrow" in node.get("nodeName", ""):
            ids |= {m["accumulatorId"] for m in node.get("metrics", ())
                    if m["name"] == "number of output rows"}
    return ids


def read_event_log(path: str) -> list[dict]:
    """Stages of the application, each with its job group, plan nodes,
    SQL accumulables and the tasks that ran in it."""
    stages: dict[int, dict] = {}
    group_of_stage: dict[int, str | None] = {}
    tasks: dict[int, list[dict]] = {}
    arrow_row_ids: set[int] = set()
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if "sparkPlanInfo" in ev:
                arrow_row_ids |= _arrow_row_accumulators(ev["sparkPlanInfo"])
            elif kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                for sid in ev["Stage IDs"]:
                    group_of_stage[sid] = group
            elif kind == "SparkListenerTaskEnd":
                info = ev["Task Info"]
                m = ev.get("Task Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                tasks.setdefault(ev["Stage ID"], []).append({
                    "duration_s": (info["Finish Time"] - info["Launch Time"]) / 1e3,
                    "failed": bool(info.get("Failed")),
                    "run_s": m.get("Executor Run Time", 0) / 1e3,
                    "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                    "spill_b": m.get("Disk Bytes Spilled", 0),
                    "shuffle_write_b": sw.get("Shuffle Bytes Written", 0),
                    "shuffle_read_b": sr.get("Remote Bytes Read", 0)
                    + sr.get("Local Bytes Read", 0),
                    "input_b": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                    "output_b": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
                })
            elif kind == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                acc: dict[str, float] = {}
                for a in si.get("Accumulables", ()):
                    try:
                        value = float(a["Value"])
                    except (TypeError, ValueError):
                        continue
                    name = ARROW_ROWS if a["ID"] in arrow_row_ids else a["Name"]
                    acc[name] = acc.get(name, 0.0) + value
                stages[si["Stage ID"]] = {"scopes": _scopes(si), "acc": acc}
    out = []
    for sid, st in sorted(stages.items()):
        st["group"] = group_of_stage.get(sid)
        st["tasks"] = tasks.get(sid, [])
        out.append(st)
    return out


def is_arrow(stage: dict) -> bool:
    return any("MapInArrow" in s for s in stage["scopes"])


def stage_metrics(stages: list[dict]) -> dict:
    """Totals over ``stages``; task percentiles over their tasks."""
    tasks = [t for st in stages for t in st["tasks"]]
    durations = sorted(t["duration_s"] for t in tasks) or [0.0]

    def tsum(key):
        return sum(t[key] for t in tasks)

    def asum(name):
        return sum(st["acc"].get(name, 0.0) for st in stages)

    return {
        "stages": len(stages),
        "tasks": len(tasks),
        "failed_tasks": sum(t["failed"] for t in tasks),
        "run_s": tsum("run_s"),
        "executor_cpu_s": tsum("cpu_s"),
        "task_p50_s": statistics.median(durations),
        "task_max_s": durations[-1],
        "shuffle_write_mb": tsum("shuffle_write_b") / MB,
        "shuffle_read_mb": tsum("shuffle_read_b") / MB,
        "spill_mb": tsum("spill_b") / MB,
        "scan_mb": tsum("input_b") / MB,
        "output_mb": tsum("output_b") / MB,
        "arrow_in_mb": asum("data sent to Python workers") / MB,
        "arrow_out_mb": asum("data returned from Python workers") / MB,
        "py_init_s": asum("time to initialize Python workers") / 1e3,
        "py_run_s": asum("time to run Python workers") / 1e3,
        "arrow_rows_out": asum(ARROW_ROWS),
    }


def event_log_file(log_dir: str, app_id: str) -> str:
    path = os.path.join(log_dir, app_id)
    if not os.path.exists(path):
        raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")
    return path
