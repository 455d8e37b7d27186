"""In-memory spans around the benchmark's calls into each layer, with
Spark event-log counts attached.

A span is (id, name, trace id, parent, start, end). While a span is open
the benchmark sets the Spark local property ``perfbench.span`` to its id,
so every job the call launches carries it in the event log's JobStart
properties. After the session stops (which flushes the log) the counts of
each job's tasks are summed onto the span that launched it.

Spans are kept in memory and written once, when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import os
import time

SPAN_PROPERTY = "perfbench.span"
COUNT_KEYS = ("jobs", "tasks", "input_bytes", "input_records",
              "output_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
              "task_run_ms", "gc_ms")


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list = []
        self._stack: list = []
        self._trace_id = 0
        self.t0 = time.perf_counter()

    def new_trace(self) -> None:
        self._trace_id += 1

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": len(self.spans) + 1, "name": name,
               "trace": self._trace_id,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "start": time.perf_counter() - self.t0, "end": None,
               "attrs": attrs, "counts": dict.fromkeys(COUNT_KEYS, 0)}
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setLocalProperty(SPAN_PROPERTY, str(rec["id"]))
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self.t0
            self._stack.pop()
            self.sc.setLocalProperty(
                SPAN_PROPERTY,
                str(self._stack[-1]["id"]) if self._stack else None)

    # -- lookups -----------------------------------------------------------

    def find(self, name: str) -> list:
        return [s for s in self.spans if s["name"] == name]

    def seconds(self, name: str) -> float:
        """Total wall seconds of every span with this name."""
        return sum(s["end"] - s["start"] for s in self.find(name))

    def inclusive(self, name: str) -> dict:
        """Counts of every span with this name plus all its descendants."""
        ids = {s["id"] for s in self.find(name)}
        grew = True
        while grew:
            more = {s["id"] for s in self.spans if s["parent"] in ids}
            grew = not more <= ids
            ids |= more
        out = dict.fromkeys(COUNT_KEYS, 0)
        for s in self.spans:
            if s["id"] in ids:
                for k in COUNT_KEYS:
                    out[k] += s["counts"][k]
        return out

    # -- event log -----------------------------------------------------------

    def attach_event_log(self, log_dir: str) -> dict:
        """Sum task metrics per job onto the span whose id the job carried.
        Returns totals of jobs that carried no span (work the benchmark
        did outside any span)."""
        by_id = {s["id"]: s for s in self.spans}
        stage_span: dict = {}
        unattributed = dict.fromkeys(COUNT_KEYS, 0)
        for path in _log_files(log_dir):
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        sid = (ev.get("Properties") or {}).get(SPAN_PROPERTY)
                        span = by_id.get(int(sid)) if sid else None
                        counts = span["counts"] if span else unattributed
                        counts["jobs"] += 1
                        for st in ev.get("Stage IDs", []):
                            stage_span[st] = counts
                    elif kind == "SparkListenerTaskEnd":
                        counts = stage_span.get(ev.get("Stage ID"),
                                                unattributed)
                        _add_task(counts, ev.get("Task Metrics") or {})
        return unattributed

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


def _log_files(log_dir: str) -> list:
    return sorted(os.path.join(d, n) for d, _, names in os.walk(log_dir)
                  for n in names if not n.startswith((".", "appstatus")))


def _add_task(counts: dict, m: dict) -> None:
    counts["tasks"] += 1
    counts["task_run_ms"] += m.get("Executor Run Time", 0)
    counts["gc_ms"] += m.get("JVM GC Time", 0)
    inp = m.get("Input Metrics") or {}
    counts["input_bytes"] += inp.get("Bytes Read", 0)
    counts["input_records"] += inp.get("Records Read", 0)
    counts["output_bytes"] += (m.get("Output Metrics") or {}).get(
        "Bytes Written", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    counts["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                     + sr.get("Local Bytes Read", 0))
    counts["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}
                                      ).get("Shuffle Bytes Written", 0)


def force(df) -> None:
    """Run a lazy frame's whole plan without collecting it."""
    df.write.format("noop").mode("overwrite").save()
