"""Spans, the Spark event-log fold and the per-layer table.

A traced run wraps the benchmark's calls into each module's public
functions in spans (name, start, end, parent, trace id).  Every span tags
its Spark jobs with ``sc.setJobGroup(span_id, name)``; after the session
stops, the event log's task-end metrics are folded into the span whose
job group they carry.  Nothing inside the engine is instrumented.

Run as a script to fold an event log offline::

    python3 perfbench/tracing.py <event-log file or eventlog_v2_* dir>
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

# Task-end metrics folded per span.  Spark records SQL timing metrics in
# ms, ``Executor CPU Time`` in ns.
SPARK_METRICS = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.failed_tasks",
    "spark.input_bytes", "spark.output_bytes",
    "spark.shuffle_write_bytes", "spark.shuffle_read_bytes", "spark.fetch_wait_s",
    "spark.task_run_s", "spark.task_cpu_s", "spark.gc_s", "spark.spill_bytes",
    "spark.py_start_s", "spark.py_init_s", "spark.py_run_s",
    "spark.py_bytes_sent", "spark.py_bytes_returned",
)

_PY_ACCUMS = {
    "time to start Python workers": ("spark.py_start_s", 1e-3),
    "time to initialize Python workers": ("spark.py_init_s", 1e-3),
    "time to run Python workers": ("spark.py_run_s", 1e-3),
    "data sent to Python workers": ("spark.py_bytes_sent", 1),
    "data returned from Python workers": ("spark.py_bytes_returned", 1),
}


class Tracer:
    """In-memory spans.  ``enabled=False`` makes ``span`` a bare timer that
    sets no job group, so the untraced run pays nothing but the clock."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._trace = 0

    def new_trace(self) -> int:
        self._trace += 1
        return self._trace

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"name": name, "start": time.perf_counter(), "end": None, **attrs}
        if self.enabled:
            parent = self._stack[-1] if self._stack else None
            rec["id"] = f"s{len(self.spans)}"
            rec["parent"] = parent["id"] if parent else None
            rec["trace"] = parent["trace"] if parent else self._trace
            self.spans.append(rec)
            self._stack.append(rec)
            self.sc.setJobGroup(rec["id"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            if self.enabled:
                self._stack.pop()
                if self._stack:
                    self.sc.setJobGroup(self._stack[-1]["id"], self._stack[-1]["name"])
                else:
                    self.sc.setJobGroup("idle", "idle")


# -- event log -----------------------------------------------------------------

def _event_files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    out = []
    for entry in sorted(os.listdir(path)):
        full = os.path.join(path, entry)
        if os.path.isdir(full):
            out.extend(_event_files(full))
        elif entry.startswith("events_") or entry.startswith("local-"):
            out.append(full)
    return out


def _lines(path: str):
    import pyarrow as pa

    for f in _event_files(path):
        if f.endswith(".zstd"):
            with pa.input_stream(f, compression="zstd") as stream:
                text = stream.read().decode("utf-8")
        else:
            with open(f, encoding="utf-8") as fp:
                text = fp.read()
        yield from text.splitlines()


def fold_event_log(path: str) -> dict[str, dict[str, float]]:
    """Spark metrics per job group: ``{group: {metric: value}}``."""
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(SPARK_METRICS, 0.0))
    stage_group: dict[int, str] = {}
    for line in _lines(path):
        e = json.loads(line)
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id", "none")
            out[group]["spark.jobs"] += 1
            for sid in e.get("Stage IDs", []):
                stage_group[sid] = group
        elif kind == "SparkListenerStageSubmitted":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            sid = e["Stage Info"]["Stage ID"]
            stage_group[sid] = group or stage_group.get(sid, "none")
            out[stage_group[sid]]["spark.stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            m = out[stage_group.get(e["Stage ID"], "none")]
            m["spark.tasks"] += 1
            if (e.get("Task End Reason") or {}).get("Reason") != "Success":
                m["spark.failed_tasks"] += 1
            tm = e.get("Task Metrics") or {}
            m["spark.task_run_s"] += tm.get("Executor Run Time", 0) / 1e3
            m["spark.task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            m["spark.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            m["spark.spill_bytes"] += (tm.get("Memory Bytes Spilled", 0)
                                       + tm.get("Disk Bytes Spilled", 0))
            m["spark.input_bytes"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
            m["spark.output_bytes"] += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
            sr = tm.get("Shuffle Read Metrics") or {}
            m["spark.shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                              + sr.get("Local Bytes Read", 0))
            m["spark.fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
            sw = tm.get("Shuffle Write Metrics") or {}
            m["spark.shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                hit = _PY_ACCUMS.get(acc.get("Name"))
                if hit and acc.get("Update") is not None:
                    m[hit[0]] += float(acc["Update"]) * hit[1]
    return {g: dict(v) for g, v in out.items()}


def find_event_log(log_dir: str) -> str | None:
    if not os.path.isdir(log_dir):
        return None
    entries = sorted(os.listdir(log_dir))
    return os.path.join(log_dir, entries[-1]) if entries else None


# -- spans -> per-span and per-layer figures -------------------------------------

def _covered(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def annotate_spans(spans: list[dict], groups: dict[str, dict[str, float]]) -> None:
    """Adds ``dur_s``, ``self_s`` (duration minus the time child spans
    cover) and the Spark metrics of the span and its descendants."""
    children: dict[str, list[dict]] = defaultdict(list)
    for s in spans:
        if s.get("parent"):
            children[s["parent"]].append(s)
    for s in spans:
        s["dur_s"] = s["end"] - s["start"]
        kids = children.get(s["id"], [])
        s["self_s"] = s["dur_s"] - _covered([(k["start"], k["end"]) for k in kids])

    def total(s: dict) -> dict[str, float]:
        acc = dict(groups.get(s["id"], dict.fromkeys(SPARK_METRICS, 0.0)))
        for k in children.get(s["id"], []):
            for name, v in total(k).items():
                acc[name] = acc.get(name, 0.0) + v
        s["spark"] = acc
        return acc

    for s in spans:
        if not s.get("parent"):
            total(s)


def write_spans(path: str, spans: list[dict]) -> None:
    t0 = min((s["start"] for s in spans), default=0.0)
    with open(path, "w", encoding="utf-8") as fp:
        for s in spans:
            rec = dict(s)
            rec["start"] = round(s["start"] - t0, 6)
            rec["end"] = round(s["end"] - t0, 6)
            fp.write(json.dumps(rec, default=float) + "\n")


def median_by(values: dict[str, list[float]]) -> dict[str, float]:
    return {k: statistics.median(v) for k, v in values.items() if v}


def format_table(table: dict[str, dict[str, float | str]]) -> str:
    """Plain-text rendering of ``{row: {metric: value}}``."""
    lines = []
    for row, metrics in table.items():
        lines.append(f"[{row}]")
        for name, v in metrics.items():
            shown = f"{v:.6g}" if isinstance(v, (int, float)) else str(v)
            lines.append(f"  {name:<32} {shown}")
    return "\n".join(lines)


def main(argv: list[str]) -> int:
    if len(argv) != 1:
        print(__doc__, file=sys.stderr)
        return 2
    groups = fold_event_log(argv[0])
    print(format_table({g: {k: v for k, v in m.items() if v} for g, m in sorted(groups.items())}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
