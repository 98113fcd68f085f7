"""In-memory spans around calls into the engine's layers.

A `Tracer` rebinds public functions at every module that imported them, so
each call records a span (name, start, end, the op it ran under, and the
span that caused it). Spark jobs are attributed to spans and ops by their
submission time in the event log, which also catches the jobs a streaming
query runs on its own thread.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import sys
import time
from contextlib import contextmanager

PACKAGE = "ai_metadata_lineage_pyspark_spark"


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patches: list[tuple] = []
        self.op: str | None = None

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1]["id"] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "parent": parent, "op": self.op}
        self.spans.append(rec)
        self._stack.append(rec)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    @contextmanager
    def op_span(self, op: str, kind: str):
        """One benchmark op: a job group named after it, and a root span."""
        self.op = op
        self.sc.setJobGroup(op, op)
        try:
            with self.span(kind) as rec:
                yield rec
        finally:
            self.op = None

    def _wrapper(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            # a loader that delegates to another traced loader is one call
            if self._stack and self._stack[-1]["name"] == name:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def wrap_everywhere(self, fn, name: str) -> int:
        """Rebind `fn` in every package module that holds it; returns the
        number of bindings replaced."""
        traced = self._wrapper(fn, name)
        n = 0
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(PACKAGE):
                continue
            for attr, val in list(vars(mod).items()):
                if val is fn:
                    setattr(mod, attr, traced)
                    self._patches.append((mod, attr, fn))
                    n += 1
        return n

    def wrap_method(self, cls, attr: str, name: str) -> None:
        fn = getattr(cls, attr)
        setattr(cls, attr, self._wrapper(fn, name))
        self._patches.append((cls, attr, fn))

    def unwrap_all(self) -> None:
        while self._patches:
            obj, attr, fn = self._patches.pop()
            setattr(obj, attr, fn)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec) + "\n")


def event_log_records(event_dir: str):
    """(jobs, stages, failed task count per stage) from the one application
    event log under `event_dir`, via tools/opt_measure's parser."""
    from tools.opt_measure import _event_lines, parse_events

    paths = glob.glob(os.path.join(event_dir, "*"))
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {event_dir}, found {paths}")
    jobs, stages = parse_events(paths[0])
    submitted, failed = {}, {}
    for line in _event_lines(paths[0]):
        if '"SparkListenerJobStart"' in line:
            ev = json.loads(line)
            submitted[ev["Job ID"]] = ev.get("Submission Time", 0) / 1000.0
        elif '"SparkListenerTaskEnd"' in line:
            ev = json.loads(line)
            if ev.get("Task End Reason", {}).get("Reason") != "Success":
                failed[ev["Stage ID"]] = failed.get(ev["Stage ID"], 0) + 1
    for j in jobs:
        j["submitted"] = submitted.get(j["job"], 0.0)
    return jobs, stages, failed


def in_spans(t: float, spans: list[dict]) -> dict | None:
    for s in spans:
        if s["start"] <= t <= s["end"]:
            return s
    return None
