"""Spans around the benchmark's calls into each engine layer, plus the
Spark task metrics of the jobs each span caused.

A span records name, start, end and the span that opened it.  Spans are
kept in memory and written out once, when the run ends.  While a span is
open, the Spark jobs the calling thread submits carry the span's job
group; jobs submitted from threads the engine starts itself carry no
group and are attributed to the innermost span whose interval holds
their submission time (the benchmark drives one call at a time, so the
interval is unambiguous).  Task metrics come from the Spark event log,
which the benchmark enables for traced runs only.

With tracing off, ``span`` is a no-op and no event log is written.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict

PYTHON_BYTES_SENT = "data sent to Python workers"


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._sc = None

    def attach(self, spark_context) -> None:
        """Tag jobs from now on (the session exists only after set-up's
        first span has started)."""
        self._sc = spark_context

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(f"perfbench-{sid}")
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group(f"perfbench-{self._stack[-1]}" if self._stack else None)

    def _set_group(self, group: str | None) -> None:
        if self._sc is None:
            return
        if group is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(group, group)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def seconds(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.named(name)]

    def write(self, path: str, jobs: dict[int, dict]) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "jobs": jobs}, f)


def read_event_log(event_dir: str, tracer: Tracer) -> dict[int, dict]:
    """Per span id: the Spark jobs it caused and their summed task
    metrics (cpu_ns, shuffle_write_bytes, spill_bytes,
    python_bytes_sent).  Read after the session has stopped, when the
    log is complete."""
    spans = [s for s in tracer.spans if s["end"] is not None]
    by_group = {f"perfbench-{s['id']}": s["id"] for s in spans}

    def innermost(t_ms: float) -> int | None:
        t = t_ms / 1000.0
        best = None
        for s in spans:
            if s["start"] <= t <= s["end"]:
                if best is None or s["start"] >= best["start"]:
                    best = s
        return None if best is None else best["id"]

    stage_span: dict[int, int | None] = {}
    out: dict[int, dict] = defaultdict(lambda: {
        "jobs": 0, "cpu_ns": 0, "shuffle_write_bytes": 0,
        "spill_bytes": 0, "python_bytes_sent": 0,
    })
    for path in sorted(glob.glob(os.path.join(event_dir, "*"))):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    sid = by_group.get(group)
                    if sid is None:
                        sid = innermost(ev["Submission Time"])
                    for st in ev["Stage IDs"]:
                        stage_span[st] = sid
                    if sid is not None:
                        out[sid]["jobs"] += 1
                elif kind == "SparkListenerTaskEnd":
                    sid = stage_span.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if sid is None or not m:
                        continue
                    rec = out[sid]
                    rec["cpu_ns"] += m.get("Executor CPU Time", 0)
                    rec["shuffle_write_bytes"] += (
                        m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    )
                    rec["spill_bytes"] += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    )
                    for acc in ev["Task Info"].get("Accumulables", []):
                        if acc.get("Name") == PYTHON_BYTES_SENT:
                            rec["python_bytes_sent"] += int(acc.get("Update") or 0)
    return dict(out)


def subtree(tracer: Tracer, root_ids: list[int]) -> set[int]:
    """The given spans and every span opened inside them."""
    ids = set(root_ids)
    for s in tracer.spans:  # parents precede children in open order
        if s["parent"] in ids:
            ids.add(s["id"])
    return ids


def summed(jobs: dict[int, dict], span_ids: set[int], key: str) -> int:
    return sum(jobs[i][key] for i in span_ids if i in jobs)
