"""Spans recorded around calls into the program's layers.

A span is (name, start, end, parent, run id).  Spans are kept in memory
and written out once, when the benchmark ends.

Spark evaluates lazily, so a layer's cost only shows when an action runs
its plan.  The traced run therefore forces each layer's *prefix plan* —
everything from the scan up to and including that layer — on its own,
with the ``noop`` sink, and links the spans by plan containment: the
span of ``cell_key`` is the parent of ``scan`` because its plan
contains the scan.  A span's self time is its duration minus the
durations of its children, i.e. the cost the layer adds on top of the
plans it consumes.  Spans run one after another, children first, so a
span names its children when it starts.  A prefix that two later plans
contain (the keyed points feed both the salt choice and the cell join)
is a child of both; its ``parent`` field records the first.

Every span also sets the Spark job group to its own id, so the
status-store reader can attribute jobs, stages and SQL metrics to the
span that launched them.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager, nullcontext


def maybe_span(tracer, name: str, children=()):
    """``tracer.span`` when tracing, else a context that does nothing."""
    return nullcontext({}) if tracer is None else tracer.span(name, children)


def force(df) -> None:
    """Run ``df``'s whole plan, computing every column, writing nothing."""
    df.write.format("noop").mode("overwrite").save()


class Tracer:
    def __init__(self, spark, run_id: str, status):
        self.spark, self.run_id, self.status = spark, run_id, status
        self.spans: list[dict] = []
        self._ids = itertools.count(1)

    @contextmanager
    def span(self, name: str, children=()):
        """Time the body as span ``name``; yields the span dict, whose
        ``id`` later spans list among their ``children``."""
        sid = next(self._ids)
        group = f"{self.run_id}/{sid}"
        rec = {"id": sid, "name": name, "parent": None, "run": self.run_id,
               "group": group, "children": [c["id"] for c in children]}
        for c in children:
            if c["parent"] is None:
                c["parent"] = sid
        self.spark.sparkContext.setJobGroup(group, name, False)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self.spark.sparkContext.setJobGroup(f"{self.run_id}/-", "", False)
            self.spans.append(rec)

    def self_by_name(self) -> dict[str, float]:
        """Summed self time per span name."""
        dur = {s["id"]: s["end"] - s["start"] for s in self.spans}
        out: dict[str, float] = {}
        for s in self.spans:
            s["self_s"] = dur[s["id"]] - sum(dur[c] for c in s["children"])
            out[s["name"]] = out.get(s["name"], 0.0) + s["self_s"]
        return out

    def read_spark(self) -> None:
        """Attach each span's status-store metrics as ``span["spark"]``."""
        by_group = self.status.read(s["group"] for s in self.spans)
        for s in self.spans:
            s["spark"] = by_group[s["group"]]

    @staticmethod
    def sum_spark(spans) -> dict:
        """Spark metrics summed over ``spans`` (``task.skew``: the max)."""
        total: dict = {}
        for s in spans:
            for k, v in s["spark"].items():
                total[k] = max(total.get(k, 0), v) if k == "task.skew" \
                    else total.get(k, 0) + v
        return total

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans, **extra}, f,
                      indent=1, default=float)
