"""Layer tracing from outside the program.

The benchmark never edits ``photon_spark``. In traced mode it replaces the
public functions of each layer at runtime with wrappers that record a span
(name, layer, start, end, parent, op id) in memory, and counts what the
layers do. Spark's own job and task counts come from the event log the
session writes when ``spark.eventLog.enabled`` is set.

Self time of a layer = the duration of its spans minus the part of each
span that its child spans cover.
"""

from __future__ import annotations

import functools
import glob
import inspect
import json
import os
import sys
import threading
import time
from collections import defaultdict

#: (module, attribute path, layer) of every call the tracer wraps.
LAYER_CALLS = [
    ("photon_spark.api", "PhotonAPI.post_event", "api"),
    ("photon_spark.api", "PhotonAPI.get_event", "api"),
    ("photon_spark.api", "PhotonAPI.stream_contents", "api"),
    ("photon_spark.api", "PhotonAPI.streams", "api"),
    ("photon_spark.api", "PhotonAPI.projection_value", "api"),
    ("photon_spark.api", "PhotonAPI.schema", "api"),
    ("photon_spark.catalog", "Catalog.sync", "catalog"),
    ("photon_spark.events", "EventStore.ingest", "events"),
    ("photon_spark.events", "EventStore.read_all", "events"),
    ("photon_spark.events", "EventStore.read_cold", "events"),
    ("photon_spark.events", "EventStore.event", "events"),
    ("photon_spark.events", "EventStore.max_order_id", "events"),
    ("photon_spark.events", "EventStore.streams", "events"),
    ("photon_spark.relations", "_stamp", "relations"),
    ("photon_spark.relations", "plan_memo", "relations"),
    ("photon_spark.relations", "read_base", "relations"),
    ("photon_spark.projections.engine", "ProjectionEngine.advance",
     "projections"),
    ("photon_spark.projections.engine", "ProjectionEngine._fold_df",
     "projections"),
    ("photon_spark.streaming.stateful",
     "StreamingProjectionRunner._apply_batch", "streaming"),
    ("photon_spark.streaming.stateful",
     "StreamingProjectionRunner._persist_snapshots", "streaming"),
    ("photon_spark.streaming.replay", "read_hot_cold", "streaming"),
    ("photon_spark.streaming.cdc", "CdcMergeTable.apply_batch",
     "streaming.cdc"),
    ("photon_spark.streaming.cdc", "CdcMergeTable.state", "streaming.cdc"),
    ("photon_spark.streaming.cdc", "CdcMergeTable.state_at",
     "streaming.cdc"),
    ("photon_spark.streaming.cdc", "CdcMergeTable.compact",
     "streaming.cdc"),
    ("photon_spark.schema_infer", "get_schema", "schema_infer"),
    ("photon_spark.schema_infer", "infer_schemas", "schema_infer"),
    ("photon_spark.schema_infer", "infer_schema_fields", "schema_infer"),
    ("photon_spark.pair_cache", "near_dup_pairs", "pair_cache"),
    ("photon_spark.pair_cache", "PairTable.build", "pair_cache"),
    ("photon_spark.pair_cache", "PairTable.update", "pair_cache"),
    ("photon_spark.pair_cache", "PairTable.pairs", "pair_cache"),
]

#: every public function of these modules is wrapped, as layer
#: ``functions.<module>``
FUNCTION_MODULES = ("dedup", "similarity", "substring", "text",
                    "multimodal", "sketches", "clustering")


class Tracer:
    """In-memory span recorder. ``enabled`` toggles recording; the
    wrappers stay installed either way, so a disabled tracer costs one
    attribute test per wrapped call."""

    def __init__(self):
        self.enabled = False
        self.spans: list[dict] = []
        self.op_id: str | None = None
        self._local = threading.local()
        self._next = 0
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ spans
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _new_id(self) -> int:
        with self._lock:
            self._next += 1
            return self._next

    def span(self, name: str, layer: str, fn, args, kwargs,
             reentrant: bool = True):
        """Call ``fn`` inside a span; returns (result, span dict)."""
        stack = self._stack()
        if not reentrant and stack and stack[-1]["name"] == name:
            return fn(*args, **kwargs), None
        sp = {"id": self._new_id(), "name": name, "layer": layer,
              "parent": stack[-1]["id"] if stack else None,
              "op": self.op_id, "start": time.perf_counter()}
        stack.append(sp)
        try:
            return fn(*args, **kwargs), sp
        finally:
            sp["end"] = time.perf_counter()
            stack.pop()
            self.spans.append(sp)

    def measure(self, name: str, layer: str, fn, *args, **kwargs):
        """Run ``fn`` in a span when enabled (used by the workloads for
        the top-level operations they time)."""
        if not self.enabled:
            return fn(*args, **kwargs)
        return self.span(name, layer, fn, args, kwargs)[0]

    # --------------------------------------------------------- wrapping
    def _wrapper(self, fn, name, layer, hook=None, reentrant=True):
        tracer = self
        before, after = hook or (None, None)

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            pre = before(args, kwargs) if before is not None else None
            out, sp = tracer.span(name, layer, fn, args, kwargs, reentrant)
            if sp is not None and after is not None:
                after(sp, pre, args, kwargs, out)
            return out
        return wrapped

    def _patch(self, owner, attr, new) -> None:
        self._undo.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, new)

    def install(self, hooks: dict | None = None) -> None:
        """Wrap every call in :data:`LAYER_CALLS` and every public
        function of :data:`FUNCTION_MODULES`. ``hooks`` maps a span name
        to ``(before, after)``: ``before(args, kwargs)`` runs ahead of the
        call and its result is passed to ``after(span, pre, args, kwargs,
        result)``, which adds attributes (tier, hit, jobs) to the span.
        Either may be None."""
        import importlib

        hooks = hooks or {}
        for mod_name, path, layer in LAYER_CALLS:
            mod = importlib.import_module(mod_name)
            owner_name, _, attr = path.rpartition(".")
            owner = getattr(mod, owner_name) if owner_name else mod
            fn = owner.__dict__[attr]
            name = f"{layer}.{path.rsplit('.', 1)[-1].lstrip('_')}"
            new = self._wrapper(fn, name, layer, hooks.get(name),
                                reentrant=attr != "_stamp")
            if owner_name:
                self._patch(owner, attr, new)
            else:
                self._rebind(fn, new)
        for short in FUNCTION_MODULES:
            mod = importlib.import_module(f"photon_spark.functions.{short}")
            for attr, fn in list(vars(mod).items()):
                if (attr.startswith("_") or not inspect.isfunction(fn)
                        or fn.__module__ != mod.__name__):
                    continue
                self._rebind(fn, self._wrapper(
                    fn, f"functions.{short}.{attr}", f"functions.{short}"))

    def _rebind(self, fn, new) -> None:
        """Replace a module-level function in every loaded photon_spark
        module that holds it (``from x import f`` copies the binding)."""
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith("photon_spark"):
                continue
            for attr, val in list(vars(mod).items()):
                if val is fn:
                    self._patch(mod, attr, new)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, old = self._undo.pop()
            setattr(owner, attr, old)

    # ---------------------------------------------------------- reports
    @staticmethod
    def self_times(spans) -> dict[str, float]:
        """Seconds of self time per layer over ``spans``."""
        children = defaultdict(list)
        for sp in spans:
            if sp["parent"] is not None:
                children[sp["parent"]].append((sp["start"], sp["end"]))
        out: dict[str, float] = defaultdict(float)
        for sp in spans:
            covered = _union_length(children.get(sp["id"], ()),
                                    sp["start"], sp["end"])
            out[sp["layer"]] += (sp["end"] - sp["start"]) - covered
        return dict(out)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(sp, default=str) + "\n")


def _union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def spark_log_metrics(event_dir: str, windows: list[tuple[float, float]],
                      cycles: int) -> dict[str, float]:
    """Job/task counts from the Spark event log, restricted to jobs that
    start inside one of the measured ``windows`` (epoch seconds).

    Returns jobs and tasks per cycle, total job-busy seconds (union of
    job intervals), driver-gap seconds (window time with no job running)
    and shuffle bytes written, per cycle."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    shuffle: dict[int, int] = defaultdict(int)
    for path in glob.glob(os.path.join(event_dir, "*")):
        with open(path) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    infos = ev.get("Stage Infos", [])
                    jobs[ev["Job ID"]] = {
                        "start": ev["Submission Time"] / 1000.0,
                        "tasks": sum(s.get("Number of Tasks", 0)
                                     for s in infos)}
                    for s in infos:
                        stage_job[s["Stage ID"]] = ev["Job ID"]
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    m = (ev.get("Task Metrics") or {}).get(
                        "Shuffle Write Metrics") or {}
                    shuffle[ev.get("Stage ID", -1)] += int(
                        m.get("Shuffle Bytes Written", 0))
    inside = {jid: j for jid, j in jobs.items() if "end" in j and any(
        lo <= j["start"] <= hi for lo, hi in windows)}
    wall = sum(hi - lo for lo, hi in windows)
    busy = sum(_union_length([(j["start"], j["end"]) for j in inside.values()],
                             lo, hi) for lo, hi in windows)
    shuffle_bytes = sum(b for sid, b in shuffle.items()
                        if stage_job.get(sid) in inside)
    per = max(cycles, 1)
    return {"spark.jobs": len(inside) / per,
            "spark.tasks": sum(j["tasks"] for j in inside.values()) / per,
            "spark.job_busy_s": busy,
            "spark.driver_gap_s": wall - busy,
            "spark.shuffle_write_bytes": shuffle_bytes / per}
