"""Layer spans for the traced run, and the Spark event-log parse that
attributes task metrics to them.

A span opens around one call into an engine layer (a public function of
the module the layer is named after). While a span is open its id is the
Spark job group, so every job the layer submits carries it in the event
log; spans nest, and a job belongs to the innermost open span. Spans stay
in memory and are written out once, when the run ends.

To make a lazy layer's work fall inside its own span, the traced run
swaps each layer function for a wrapper that calls it, then persists and
counts its output before the span closes (``Tracer.layers``). The engine's
own entry point still composes the layers, in its own order.
"""

from __future__ import annotations

import contextlib
import importlib
import itertools
import json
import re
import time
from collections import defaultdict
from dataclasses import asdict, dataclass

LAYERS = ("scan_sketch", "lsh", "visual", "verify", "vote", "cc", "idmap",
          "agg")

# per-layer metric -> unit, in output order
LAYER_METRICS = {
    "wall_s": "s", "self_s": "s", "task_s": "s", "occupancy": "frac",
    "gc_s": "s", "shuffle_write_mb": "MB", "shuffle_read_mb": "MB",
    "spill_mb": "MB", "jobs": "count", "rows_in": "count",
    "rows_out": "count",
}

# one label-propagation round of operators.connected_components is one
# job whose call site is its convergence check, ``.first()``
_CC_ROUND_SITE = re.compile(r"^first at .*connected_components\.py:\d+$")

# what parse_event_log sums per job group
_GROUP_METRICS = ("task_s", "gc_s", "shuffle_write_mb", "shuffle_read_mb",
                  "spill_mb", "jobs", "cc_rounds")

_MB = 1 << 20


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    rows_out: int | None = None


class Tracer:
    """Collects spans for one process; ``sc`` is the SparkContext whose
    job group follows the innermost open span."""

    def __init__(self, sc):
        self._sc = sc
        self._ids = itertools.count(1)
        self._stack: list[Span] = []
        self._persisted: list = []
        self.spans: list[Span] = []
        self.counters: dict[tuple[str, str], int] = {}
        self.run_id = ""

    @staticmethod
    def group_of(span: Span) -> str:
        return f"perfbench:{span.run_id}:{span.span_id}"

    def _set_group(self) -> None:
        if self._stack:
            top = self._stack[-1]
            self._sc.setJobGroup(self.group_of(top), top.name)
        else:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1].span_id if self._stack else None
        sp = Span(next(self._ids), name, parent, self.run_id,
                  time.perf_counter())
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._set_group()

    @contextlib.contextmanager
    def run(self, run_id: str):
        """One traced repetition: a root span named ``job``; everything
        the layers persisted is released when it ends."""
        self.run_id = run_id
        try:
            with self.span("job") as root:
                yield root
        finally:
            while self._persisted:
                self._persisted.pop().unpersist(False)

    def _materializing(self, fn, layer: str, counter: str | None):
        from pyspark.sql import DataFrame
        from pyspark.storagelevel import StorageLevel

        def wrapper(*args, **kwargs):
            with self.span(layer) as sp:
                out = fn(*args, **kwargs)
                if isinstance(out, DataFrame):
                    out = out.persist(StorageLevel.MEMORY_AND_DISK)
                    self._persisted.append(out)
                    n = out.count()
                    if counter:
                        self.counters[(self.run_id, counter)] = n
                    else:
                        sp.rows_out = n
                return out
        return wrapper

    @contextlib.contextmanager
    def layers(self, plan):
        """Swap each ``(module, attribute, layer, counter)`` in ``plan``
        for its materializing wrapper while the block runs. A missing
        attribute raises: the plan must name functions that exist."""
        saved = []
        try:
            for mod_name, attr, layer, counter in plan:
                mod = importlib.import_module(mod_name)
                real = getattr(mod, attr)
                saved.append((mod, attr, real))
                setattr(mod, attr, self._materializing(real, layer, counter))
            yield
        finally:
            for mod, attr, real in reversed(saved):
                setattr(mod, attr, real)

    def write(self, path) -> None:
        with open(path, "w") as f:
            json.dump({"spans": [asdict(s) for s in self.spans],
                       "counters": [{"run_id": r, "name": n, "value": v}
                                    for (r, n), v in self.counters.items()]},
                      f)


def parse_event_log(lines) -> dict[str, dict]:
    """Task metrics per job group from Spark event-log JSON lines.

    Returns group -> {task_s, gc_s, shuffle_write_mb, shuffle_read_mb,
    spill_mb, jobs, cc_rounds}. A task counts toward the group its stage
    was submitted under; jobs submitted with no group are skipped."""
    out: dict[str, dict] = defaultdict(lambda: dict.fromkeys(
        _GROUP_METRICS, 0))
    stage_group: dict[tuple[int, int], str] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id")
            if group is None:
                continue
            out[group]["jobs"] += 1
            if _CC_ROUND_SITE.match(props.get("callSite.short") or ""):
                out[group]["cc_rounds"] += 1
        elif kind == "SparkListenerStageSubmitted":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is not None:
                info = ev["Stage Info"]
                stage_group[(info["Stage ID"], info["Stage Attempt ID"])] = \
                    group
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get((ev["Stage ID"], ev["Stage Attempt ID"]))
            tm = ev.get("Task Metrics")
            if group is None or not tm:
                continue
            g = out[group]
            rd = tm.get("Shuffle Read Metrics", {})
            g["task_s"] += tm.get("Executor Run Time", 0) / 1e3
            g["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            g["shuffle_write_mb"] += tm.get("Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0) / _MB
            g["shuffle_read_mb"] += (rd.get("Remote Bytes Read", 0)
                                     + rd.get("Local Bytes Read", 0)) / _MB
            g["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / _MB
    return dict(out)


def layer_metrics(spans: list[Span], groups: dict[str, dict],
                  cores: int) -> dict[str, dict[str, float]]:
    """Per-layer figures for the spans of ONE run id.

    ``wall_s`` sums the spans of a layer that have no ancestor of the same
    layer; ``self_s`` subtracts the time covered by child spans; task
    metrics come from the jobs each span submitted itself (innermost
    span), so nothing is counted twice. ``occupancy`` is
    task_s / (self_s x cores). ``rows_out`` sums outermost spans;
    ``cc_rounds`` counts label-propagation rounds among the jobs."""
    by_id = {s.span_id: s for s in spans}
    children: dict[int, float] = defaultdict(float)
    for s in spans:
        if s.parent is not None:
            children[s.parent] += s.end - s.start

    def outermost(s: Span) -> bool:
        p = s.parent
        while p is not None:
            if by_id[p].name == s.name:
                return False
            p = by_id[p].parent
        return True

    res: dict[str, dict[str, float]] = {
        layer: dict.fromkeys([*LAYER_METRICS, *_GROUP_METRICS], 0.0)
        for layer in LAYERS}
    for s in spans:
        if s.name not in res:
            continue
        m = res[s.name]
        dur = s.end - s.start
        m["self_s"] += dur - children[s.span_id]
        if outermost(s):
            m["wall_s"] += dur
            m["rows_out"] += s.rows_out or 0
        g = groups.get(Tracer.group_of(s))
        if g:
            for k in _GROUP_METRICS:
                m[k] += g[k]
    for m in res.values():
        m["occupancy"] = (m["task_s"] / (m["self_s"] * cores)
                          if m["self_s"] > 0 else 0.0)
    return res
