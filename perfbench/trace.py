"""In-memory span tracer for the benchmark's calls into each layer.

A span records name, layer, start, end and the span that caused it; all
spans of one run share the run id. Spans run one after another (the
benchmark is a closed loop with one caller, and ``foreachBatch`` calls
back while the caller is blocked in the query), so one stack serves all
threads, and every Spark stage belongs to exactly one innermost span:
the one whose interval holds the stage's submission time.

Self time is a span's duration minus the time its children cover.
Nothing inside the program is instrumented.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager

#: Spark status-store deltas attributed to spans
STAGE_KEYS = ("task_cpu_s", "shuffle_write_bytes", "spill_bytes", "tasks",
              "task_wait_s")


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._last_stage = -1

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        """``with tr.span("sources.fs_topic.produce", "sources.fs_topic",
        rows_in=n) as a: ...`` — ``a`` takes counts known inside."""
        if not self.enabled:
            yield dict(attrs)  # takes the counts, records nothing
            return
        rec = {"run": self.run_id, "id": len(self.spans), "name": name,
               "layer": layer,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, "attrs": dict(attrs)}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec["attrs"]
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    # -- Spark status store ---------------------------------------------------

    def attach_stages(self, spark, first: int = 0) -> None:
        """Read the stages completed since the last call from the status
        store and add each one's metrics to the innermost span (from span
        ``first`` on) whose interval holds the stage's submission time
        (1 ms slack: the store keeps milliseconds)."""
        # stage events reach the store through the listener bus
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        stages = _stages(spark, self._last_stage)
        if stages:
            self._last_stage = max(st["stage"] for st in stages)
        spans = self.spans[first:]
        for st in stages:
            t = st["submitted"]
            best = None
            for s in spans:
                if s["start"] - 1e-3 <= t <= s["end"] + 1e-3 and (
                        best is None or s["start"] >= best["start"]):
                    best = s
            if best is not None:
                acc = best.setdefault("stages", dict.fromkeys(STAGE_KEYS, 0))
                for k in STAGE_KEYS:
                    acc[k] += st[k]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _json(spark, obj):
    jvm = spark.sparkContext._jvm
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala = getattr(jvm.com.fasterxml.jackson.module.scala,
                    "DefaultScalaModule$").__getattr__("MODULE$")
    mapper.registerModule(scala)
    return json.loads(mapper.writeValueAsString(obj))


def _stages(spark, after: int) -> list[dict]:
    """Completed stages with an id above ``after`` from the status store,
    with per-task scheduler delay summed."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    out = []
    for st in _json(spark, store.stageList(None, False, False, quantiles, None)):
        if (st["stageId"] <= after or st.get("submissionTime") is None
                or st["status"] != "COMPLETE"):
            continue
        tasks = _json(spark, store.taskList(st["stageId"], st["attemptId"],
                                            1 << 20))
        out.append({
            "stage": st["stageId"],
            "submitted": st["submissionTime"] / 1000.0,
            "task_cpu_s": st["executorCpuTime"] / 1e9,
            "shuffle_write_bytes": st["shuffleWriteBytes"],
            "spill_bytes": st["memoryBytesSpilled"] + st["diskBytesSpilled"],
            "tasks": st["numCompleteTasks"],
            "task_wait_s": sum(t.get("schedulerDelay") or 0 for t in tasks)
            / 1000.0,
        })
    return out


def self_times(spans: list[dict]) -> list[float]:
    """Per span: duration minus the union of its children's intervals
    (children run one after another, so their durations do not overlap)."""
    child = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    return [s["end"] - s["start"] - child[s["id"]] for s in spans]


def layer_totals(spans: list[dict]) -> dict[str, dict]:
    """Per layer: calls, busy_s (time inside its outermost spans), self_s,
    rows in/out and the stage deltas of its spans."""
    by_id = {s["id"]: s for s in spans}
    selfs = self_times(spans)
    out: dict[str, dict] = {}
    for s, self_s in zip(spans, selfs):
        L = out.setdefault(s["layer"], {"calls": 0, "busy_s": 0.0,
                                        "self_s": 0.0, "rows_in": 0,
                                        "rows_out": 0,
                                        **dict.fromkeys(STAGE_KEYS, 0)})
        L["calls"] += 1
        L["self_s"] += self_s
        parent = by_id.get(s["parent"])
        if parent is None or parent["layer"] != s["layer"]:
            L["busy_s"] += s["end"] - s["start"]
        for k in ("rows_in", "rows_out"):
            L[k] += s["attrs"].get(k, 0)
        for k, v in s.get("stages", {}).items():
            L[k] += v
    return out
