"""Projection engine: continuous ordered folds over event streams.

Reference parity (SURVEY.md §2.4, citations into /root/reference):

- A1 register-query!: compile a reducer, fold events **in order_id order,
  sequentially** over a stream (default __all__), resumable from the last
  folded event (src/photon/streams.clj:241-274, 125-145).
- A2 fold-step metrics: processed, incremental avg_time, rate-limited state
  size measurement (streams.clj:99-145).
- A3 failure semantics: user-fn exception ⇒ status=failed, last_error
  captured, fold stops, state remains queryable (streams.clj:84-97).
- A4 unregister / delete-protected defaults (streams.clj:276-286,
  core.clj:102-107).
- U1/U4: the projection language is Python source (replacing Clojure/JS,
  exec.clj:16-24); initial value parsed from JSON (exec.clj:177-182).

Scale design — three reducer tiers (SURVEY.md §4 custom-work #1):

1. ``NativeReducer`` — named built-ins (count/sum/avg/min/max/...) compile to
   Catalyst aggregates: fully parallel, map-side partial aggregation, no
   Python in the hot path. This is the 100 TB path and covers every reducer
   photon's own tests exercise (count-folds, sum-folds).
2. ``AssociativeReducer`` — user fold + user merge: per-partition folds run
   distributed over range-partitioned order_id spans, partials merged in
   order on the driver. O(partitions) driver work.
3. ``PyReducer`` — arbitrary non-commutative ``f(state, event) → state``: a
   single total order fundamentally serializes (photon serializes too —
   parallel *across* projections, serial per projection,
   streams.clj:410-420). We stream Arrow batches of the ordered scan through
   the driver (constant memory), never ``collect()``.
"""

from __future__ import annotations

import json
import pickle
import time
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from photon_spark.events import ALL_STREAMS, EventStore

DEFAULT_PROJECTIONS = ("__streams__", "__security-state__")


# --------------------------------------------------------------------------
# Reducers
# --------------------------------------------------------------------------

@dataclass
class NativeReducer:
    """Built-in reducer compiled to a native Catalyst aggregate.

    ``kind`` ∈ {count, sum, avg, min, max, count_distinct}; ``expr`` is a SQL
    expression string over the event columns (e.g. a payload field via
    ``get_json_object(payload, '$.k')``).
    """
    kind: str
    expr: str | None = None

    _AGGS = {
        "count": lambda c: F.count(F.lit(1)),
        "sum": lambda c: F.sum(F.expr(c)),
        "avg": lambda c: F.avg(F.expr(c)),
        "min": lambda c: F.min(F.expr(c)),
        "max": lambda c: F.max(F.expr(c)),
        "count_distinct": lambda c: F.count_distinct(F.expr(c)),
    }


@dataclass
class AssociativeReducer:
    """User fold with a user-supplied associative merge.

    ``fold(state, event_dict) → state``; ``merge(left_state, right_state) →
    state``; ``zero`` is the identity. Partition partials fold in parallel;
    ordered merge preserves left-to-right semantics.
    """
    fold: Callable[[Any, dict], Any]
    merge: Callable[[Any, Any], Any]
    zero: Any = None


@dataclass
class PyReducer:
    """Arbitrary ordered fold ``f(state, event_dict) → state``.

    ``source`` keeps the persisted source string (photon persists reducer
    source for restart replay, exec.clj:18-24 ``:persist``).
    """
    fn: Callable[[Any, dict], Any]
    source: str | None = None
    #: optional column-pruning hint: the event-dict keys the fold reads.
    #: When set, the pack path ships only these (+ order_id) to the driver —
    #: map/timestamp columns are the expensive Arrow→Python conversions.
    columns: tuple[str, ...] | None = None

    @classmethod
    def from_source(cls, source: str) -> "PyReducer":
        """U1: compile Python source (an expression evaluating to a callable,
        e.g. ``"lambda prev, ev: prev + 1"``) — the PySpark-native
        substitute for photon's Clojure/JS reducer compilation."""
        fn = eval(compile(source, "<projection>", "eval"), {"json": json})  # noqa: S307
        if not callable(fn):
            raise ValueError("projection source must evaluate to a callable")
        return cls(fn=fn, source=source)


Reducer = NativeReducer | AssociativeReducer | PyReducer


# --------------------------------------------------------------------------
# Descriptor
# --------------------------------------------------------------------------

@dataclass
class Projection:
    """Registered projection descriptor + runtime state
    (streams.clj:216-232; doc/schemas.md:63-71,113-123)."""
    projection_name: str
    reducer: Reducer
    stream_name: str = ALL_STREAMS
    language: str = "python"
    initial_value: Any = None
    # runtime
    current_value: Any = None
    processed: int = 0
    init_time: float = field(default_factory=time.time)
    last_event: int = 0              # order_id of last folded event (resume pt)
    last_error: str | None = None
    avg_time: float = 0.0            # incremental mean, ms/event
    avg_global_time: float = 0.0     # wall-clock ms since init / processed
    mem_used: int = 0                # pickled state size, rate-limited
    status: str = "running"          # running | failed | finished
    #: NULL-aware weight of the running native avg (count of non-null
    #: sampled values) — the merge weight, distinct from ``processed``
    native_weight: int = 0

    def touch_global_time(self) -> None:
        """A2: avg-global-time = wall-clock per processed event
        (streams.clj:141-143)."""
        if self.processed:
            self.avg_global_time = ((time.time() - self.init_time) * 1000.0
                                    / self.processed)

    def descriptor(self) -> dict:
        """API view (F4 strips heavy fields — api.clj:38-49)."""
        return {
            "projection-name": self.projection_name,
            "stream-name": self.stream_name,
            "language": self.language,
            "processed": self.processed,
            "status": self.status,
            "last-error": self.last_error,
            "avg-time": self.avg_time,
            "avg-global-time": self.avg_global_time,
            "last-event": self.last_event,
            "init-time": self.init_time,
            "mem-used": self.mem_used,
        }


# --------------------------------------------------------------------------
# Engine
# --------------------------------------------------------------------------

_MEASURE_RATE = 1000  # measure state size every N events (measure.rate)


class ProjectionEngine:
    """Registry + batch fold executor over an EventStore.

    Batch mode folds everything currently persisted (photon's cold phase);
    calling :meth:`advance` again folds only events newer than ``last_event``
    — exactly photon's resume-from-last-event semantics
    (streams.clj:255-259). The streaming wrapper
    (photon_spark.streaming.stateful) drives the same fold per micro-batch.
    """

    def __init__(self, store: EventStore | None = None):
        self.store = store
        self.registry: dict[str, Projection] = {}

    @classmethod
    def fold_dataframe(cls, reducer: "Reducer", df: DataFrame,
                       initial_value: Any = None,
                       name: str = "adhoc") -> Projection:
        """Fold an arbitrary ordered DataFrame through a reducer without an
        EventStore (ad-hoc / driver-contract use). Returns the descriptor."""
        engine = cls(store=None)
        proj = Projection(projection_name=name, reducer=reducer,
                          initial_value=initial_value,
                          current_value=initial_value)
        engine.registry[name] = proj
        return engine._fold_df(proj, df)

    # ------------------------------------------------------------ registry
    def register(self, name: str, reducer: Reducer | str,
                 stream_name: str = ALL_STREAMS, initial_value: Any = None,
                 language: str = "python") -> Projection:
        """A1: register (replace-if-exists, streams.clj:331-335)."""
        if isinstance(reducer, str):
            reducer = PyReducer.from_source(reducer)
        if name in self.registry:
            self.registry.pop(name)
        proj = Projection(projection_name=name, reducer=reducer,
                          stream_name=stream_name, language=language,
                          initial_value=initial_value,
                          current_value=initial_value)
        self.registry[name] = proj
        return proj

    def unregister(self, name: str) -> bool:
        """A4: default projections are delete-protected (core.clj:102-107)."""
        if name in DEFAULT_PROJECTIONS:
            return False
        return self.registry.pop(name, None) is not None

    def projection(self, name: str) -> Projection | None:
        return self.registry.get(name)

    def projection_keys(self) -> list[str]:
        return sorted(self.registry)

    def value(self, name: str, query_key: str | None = None) -> Any:
        """F5 keyed lookup into a projection's current value
        (api.clj:61-64)."""
        proj = self.registry.get(name)
        if proj is None:
            return None
        v = proj.current_value
        if query_key is None:
            return v
        if isinstance(v, dict):
            return v.get(query_key)
        return None

    # ---------------------------------------------------------------- fold
    def advance(self, name: str, emit_states: bool = False) -> Projection:
        """Fold all events newer than the projection's resume point.

        Returns the updated descriptor. With ``emit_states`` the successive
        state values (the projection's *virtual stream*,
        streams.clj:182-200) are recorded on ``proj.emitted``.
        """
        proj = self.registry[name]
        if proj.status == "failed":
            return proj
        df = self.store.read_cold(proj.stream_name, from_=proj.last_event + 1,
                                  ordered=False)
        return self._fold_df(proj, df, emit_states=emit_states)

    def _fold_df(self, proj: Projection, df: DataFrame,
                 emit_states: bool = False) -> Projection:
        reducer = proj.reducer
        if isinstance(reducer, NativeReducer):
            # 100 TB path: one Catalyst aggregate, no Python per event —
            # bounds and the reducer value in a SINGLE pass. avg needs its
            # own NULL-aware weight: F.avg skips NULL expr values, so the
            # cross-batch merge must weight by count(expr), NOT by the row
            # count (weighting by rows skews every avg the moment one
            # sampled value is NULL).
            if reducer.kind not in NativeReducer._AGGS:
                raise ValueError(f"unknown native reducer: {reducer.kind}")
            aggs = [F.count(F.lit(1)).alias("n"),
                    F.max("order_id").alias("mx"),
                    NativeReducer._AGGS[reducer.kind](reducer.expr)
                    .alias("v")]
            if reducer.kind == "avg":
                aggs.append(F.count(F.expr(reducer.expr)).alias("w"))
            bounds = df.agg(*aggs).first()
            if bounds["n"]:
                prev = proj.current_value
                if reducer.kind == "avg":
                    prev_w = proj.native_weight
                    new_w = bounds["w"]
                    if new_w:
                        if prev is None or prev_w == 0:
                            proj.current_value = bounds["v"]
                        else:
                            proj.current_value = (
                                (prev * prev_w + bounds["v"] * new_w)
                                / (prev_w + new_w))
                    proj.native_weight = prev_w + new_w
                elif reducer.kind == "count_distinct" and proj.processed:
                    # distinct counts do not add across batches: recount
                    # the projection's stream up to the new high-water mark
                    proj.current_value = (
                        self.store.read_cold(proj.stream_name, ordered=False)
                        .where(F.col("order_id") <= bounds["mx"])
                        .agg(NativeReducer._AGGS["count_distinct"](
                            reducer.expr))
                        .first()[0])
                else:
                    proj.current_value = _combine_native(
                        reducer.kind, prev, bounds["v"], proj.processed)
                proj.processed += bounds["n"]
                proj.last_event = bounds["mx"]
                proj.touch_global_time()
            if emit_states:
                # per-event states only exist on the serial tier; the
                # native tier's virtual stream is per-BATCH (one state per
                # fold call) — emit that rather than silently ignoring the
                # flag.
                proj.emitted = ([proj.current_value] if bounds["n"]
                                else [])  # type: ignore[attr-defined]
            return proj

        if isinstance(reducer, AssociativeReducer):
            before = proj.processed
            proj = self._fold_associative(proj, df)
            if emit_states:
                proj.emitted = ([proj.current_value]  # type: ignore[attr-defined]
                                if proj.processed != before else [])
            return proj

        return self._fold_serial(proj, df, emit_states=emit_states)

    # -- tier 3: arbitrary ordered fold, driver-streamed ------------------
    def _fold_serial(self, proj: Projection, df: DataFrame,
                     emit_states: bool = False) -> Projection:
        """Ordered fold with executor-side record packing.

        Per-row Python deserialization is the old bottleneck (~85k rows/s
        through ``toLocalIterator``). Instead: range-partition on order_id,
        convert each Arrow batch to plain dicts IN PARALLEL on executors,
        ship them to the driver as one pickled blob per batch, and stream
        blobs in order through ``toLocalIterator`` (constant driver memory —
        one blob at a time). The driver loop then runs only the user fn.
        """
        reducer: PyReducer = proj.reducer  # type: ignore[assignment]
        if reducer.columns is not None:
            keep = list(dict.fromkeys(
                [*reducer.columns,
                 *(["order_id"] if "order_id" in df.columns else [])]))
            df = df.select(*keep)
        emitted = [] if emit_states else None
        state = proj.current_value
        for brow in _pack_ordered(df).toLocalIterator(prefetchPartitions=True):
            recs = pickle.loads(brow["blob"])
            t0 = time.perf_counter()
            for i, ev in enumerate(recs):
                try:
                    state = reducer.fn(state, ev)
                except Exception as exc:  # A3 failure capture
                    import traceback
                    proj.last_error = f"{exc}\n{traceback.format_exc(limit=5)}"
                    proj.status = "failed"
                    # keep metrics and queryable state consistent: state is
                    # the value BEFORE the failing event (streams.clj:84-97
                    # keeps the last good state queryable on failure).
                    proj.processed += i
                    if i:
                        proj.last_event = recs[i - 1].get("order_id") \
                            or proj.last_event
                    proj.current_value = state
                    if emitted is not None:
                        proj.emitted = emitted  # type: ignore[attr-defined]
                    return proj
                if emitted is not None:
                    emitted.append(state)
            n = len(recs)
            if n:
                dt_ms = (time.perf_counter() - t0) * 1000.0
                # incremental mean ms/event (streams.clj:99-106 next-avg),
                # batch-amortized: all n events share this batch's mean.
                proj.avg_time += ((dt_ms / n) - proj.avg_time) * n \
                    / (proj.processed + n)
                if (proj.processed % _MEASURE_RATE) + n >= _MEASURE_RATE:
                    proj.mem_used = len(pickle.dumps(state))
                proj.processed += n
                proj.last_event = recs[-1].get("order_id") or proj.last_event
        proj.current_value = state
        proj.touch_global_time()
        if emitted is not None:
            proj.emitted = emitted  # type: ignore[attr-defined]
        return proj

    # -- tier 2: distributed partial folds + ordered merge ----------------
    def _fold_associative(self, proj: Projection, df: DataFrame) -> Projection:
        reducer: AssociativeReducer = proj.reducer  # type: ignore[assignment]
        fold, zero = reducer.fold, reducer.zero
        cols = [c for c in df.columns]

        def fold_partition(iterator):
            import pandas as pd
            state, lo, n, mx = zero, None, 0, 0
            for pdf in iterator:
                for rec in pdf.to_dict("records"):
                    oid = rec.get("order_id", 0)
                    if lo is None:
                        lo = oid
                    mx = oid
                    state = fold(state, rec)
                    n += 1
            if n:
                yield pd.DataFrame({"lo": [lo], "mx": [mx], "n": [n],
                                    "blob": [pickle.dumps(state)]})

        # contiguous sorted order_id spans → partials merge left-to-right
        parts = (_order_spans(df)
                 .mapInPandas(fold_partition,
                              schema="lo long, mx long, n long, blob binary")
                 .collect())
        parts.sort(key=lambda r: r["lo"])
        state = (proj.current_value if proj.current_value is not None
                 else zero)
        for p in parts:
            state = reducer.merge(state, pickle.loads(p["blob"]))
            proj.processed += p["n"]
            proj.last_event = max(proj.last_event, p["mx"])
        proj.current_value = state
        proj.touch_global_time()
        return proj


def _order_spans(df: DataFrame) -> DataFrame:
    """Range-partition on order_id so each partition is a contiguous,
    sorted order_id span, in ascending partition order. Without an
    order_id (the fold_dataframe ad-hoc contract) keep the plan's own
    order in one partition."""
    if "order_id" in df.columns:
        return (df.repartitionByRange("order_id")
                  .sortWithinPartitions("order_id"))
    return df.coalesce(1)


def _pack_ordered(df: DataFrame) -> DataFrame:
    """→ DataFrame[lo long, blob binary]: the input rows as pickled lists of
    plain-Python dicts, one blob per Arrow batch, ordered by first order_id.

    Range-partitioning on order_id gives disjoint contiguous spans in
    ascending partition order, so sorting the (tiny) blob rows by
    (partition_index, chunk_index) reconstructs the exact total order.
    numpy scalars are converted executor-side so user reducers see plain
    ints/floats.
    """
    def pack(batches):
        import pandas as pd
        from pyspark import TaskContext
        pid = TaskContext.get().partitionId()
        for idx, pdf in enumerate(batches):
            if pdf.empty:
                continue
            recs = [
                {k: (v.item() if hasattr(v, "item") else v)
                 for k, v in r.items()}
                for r in pdf.to_dict("records")
            ]
            yield pd.DataFrame({"lo": [(pid << 24) + idx],
                                "blob": [pickle.dumps(recs, protocol=4)]})

    # NOT orderBy("lo"): a global sort adds a range-sampling job that
    # re-executes the whole pack pipeline a second time. The blob relation
    # is tiny (one row per Arrow batch), so a round-robin shuffle into one
    # partition + in-partition sort reconstructs the total order with no
    # sampling pass and keeps toLocalIterator streaming in order.
    return (_order_spans(df).mapInPandas(pack, schema="lo long, blob binary")
              .repartition(1)
              .sortWithinPartitions("lo"))


def _combine_native(kind: str, prev: Any, new: Any, prev_n: int) -> Any:
    """Merge a fresh count/sum/min/max value into the running projection
    value (incremental advance across batches); avg and count_distinct
    merge in ``_fold_df``."""
    if prev is None or prev_n == 0:
        return new
    if new is None:
        return prev
    if kind in ("count", "sum"):
        return prev + new
    if kind == "min":
        return min(prev, new)
    return max(prev, new)
