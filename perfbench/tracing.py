"""Spans around the benchmark's own calls, plus the Spark status-store reader.

Every timed operation of the benchmark runs inside ``Tracer.span``. The
span's duration is the end-to-end sample, so untraced and traced runs time
exactly the same code. With tracing on, a top-level span also labels the
Spark jobs it starts (``SparkContext.setJobDescription("<name>#<req>")``),
and ``SparkStatus`` reads the status store's REST API once at exit to
split those jobs' stage and SQL metrics by span name. Jobs whose
description carries no span label (for example the ones ``build_index``
starts from its docs-commit thread) are reported as unattributed.
"""

from __future__ import annotations

import json
import re
import threading
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from datetime import datetime


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    req: int | None
    thread: str
    sid: int

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder; ``label_jobs`` turns on Spark job labels."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._local = threading.local()
        self._sc = None

    def label_jobs(self, sc) -> None:
        self._sc = sc

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, req: int | None = None):
        stack = self._stack()
        parent = stack[-1] if stack else None
        sid = len(self.spans)
        s = Span(name, time.perf_counter(), 0.0, parent, req,
                 threading.current_thread().name, sid)
        self.spans.append(s)
        stack.append(sid)
        top = parent is None and self._sc is not None
        if top:
            self._sc.setJobDescription(f"{name}#{req}")
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            if top:
                self._sc.setJobDescription(None)

    def durations(self, name: str) -> list[float]:
        return [s.dur for s in self.spans if s.name == name and s.end]

    def self_times(self) -> dict[int, float]:
        """Span duration minus the union of its direct children's intervals."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        return {s.sid: s.dur - union_seconds(
                    [(c.start, c.end) for c in kids.get(s.sid, [])])
                for s in self.spans}

    def dump(self, path: str, origin: float) -> None:
        selfs = self.self_times()
        rows = []
        for s in self.spans:
            d = asdict(s)
            d["start"] = round(s.start - origin, 6)
            d["end"] = round(s.end - origin, 6)
            d["self"] = round(selfs[s.sid], 6)
            rows.append(d)
        with open(path, "w") as f:
            json.dump(rows, f)


def union_seconds(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
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


_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "B": 1,
          "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3, "TiB": 1024 ** 4}
_VALUE = re.compile(r"^\s*([0-9.,]+)\s*([A-Za-z]+)?")


def parse_metric(text: str) -> float:
    """A SQL-metric display string ('12.5 s (...)', '3.0 MiB', '7 ms') as
    seconds or bytes; the total is on the last line."""
    m = _VALUE.match(text.strip().splitlines()[-1])
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1)


# MapInPandas / ArrowEvalPython node metrics -> per-layer names
PY_METRICS = {
    "time to start Python workers": "python_start_s",
    "time to initialize Python workers": "python_init_s",
    "time to run Python workers": "python_run_s",
    "data sent to Python workers": "bytes_sent",
    "data returned from Python workers": "bytes_returned",
}


class SparkStatus:
    """Stage and SQL records of the live application, grouped by the span
    name in each job description."""

    def __init__(self, sc) -> None:
        self.base = (f"{sc.uiWebUrl}/api/v1/applications/"
                     f"{sc.applicationId}")
        self.stages = self._get("/stages")
        self.sql = self._get("/sql?details=true&planDescription=false"
                             "&offset=0&length=100000")

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    @staticmethod
    def _label(desc: str | None) -> str | None:
        if desc and "#" in desc:
            return desc.rsplit("#", 1)[0]
        return None

    def stage_totals(self, name: str) -> dict[str, float]:
        out = {"tasks": 0.0, "shuffle_read_bytes": 0.0,
               "shuffle_write_bytes": 0.0, "spill_bytes": 0.0}
        for st in self.stages:
            if self._label(st.get("description")) != name:
                continue
            if st.get("status") not in ("COMPLETE", "FAILED"):
                continue
            out["tasks"] += st["numTasks"]
            out["shuffle_read_bytes"] += st["shuffleReadBytes"]
            out["shuffle_write_bytes"] += st["shuffleWriteBytes"]
            out["spill_bytes"] += (st["memoryBytesSpilled"]
                                   + st["diskBytesSpilled"])
        return out

    def python_totals(self, name: str) -> dict[str, float]:
        out = {v: 0.0 for v in PY_METRICS.values()}
        for ex in self.sql:
            if self._label(ex.get("description")) != name:
                continue
            for node in ex.get("nodes", []):
                for m in node.get("metrics", []):
                    key = PY_METRICS.get(m["name"])
                    if key:
                        out[key] += parse_metric(m["value"])
        return out

    def unattributed(self) -> dict[str, float]:
        """Completed stages with no span label: count and summed wall."""
        n, wall = 0, 0.0
        for st in self.stages:
            if self._label(st.get("description")) is not None:
                continue
            if st.get("status") != "COMPLETE":
                continue
            n += 1
            wall += _wall(st)
        return {"stages": float(n), "stage_s": wall}


def _wall(st: dict) -> float:
    """Stage wall seconds from its submission and completion stamps."""
    fmt = "%Y-%m-%dT%H:%M:%S.%f"
    try:
        a = datetime.strptime(st["submissionTime"][:23], fmt)
        b = datetime.strptime(st["completionTime"][:23], fmt)
    except (KeyError, TypeError, ValueError):
        return 0.0
    return (b - a).total_seconds()
