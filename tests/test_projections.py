"""Projection engine tests — mirror projections.clj facts: count-fold
convergence, per-stream scoping, resume, replace, delete-protection, failure
capture; plus the native/associative scale tiers."""

import json

import pytest

from photon_spark.events import EventStore
from photon_spark.projections import (
    AssociativeReducer, NativeReducer, ProjectionEngine, PyReducer)

from tests.test_events import make_events


@pytest.fixture()
def engine(spark, tmp_path):
    store = EventStore(spark, str(tmp_path / "events"))
    return ProjectionEngine(store)


def test_count_fold_convergence(engine, spark):
    # projections.clj:96-110 — (fn [a b] (inc a)) over 1003 events, init 1,
    # converges to 1004.  (Reference folds init 0 + registration event → we
    # replicate the arithmetic: init 1, 1003 events ⇒ 1004.)
    engine.store.ingest(make_events(spark, 1003, stream="largestream"))
    engine.register("inc-proj", "lambda prev, ev: prev + 1",
                    stream_name="largestream", initial_value=1)
    proj = engine.advance("inc-proj")
    assert proj.current_value == 1004
    assert proj.processed == 1003
    assert proj.status == "running"
    assert proj.avg_time >= 0.0
    assert proj.mem_used > 0  # measured at the 1000-event tick


def test_resume_from_last_event(engine, spark):
    # streams.clj:255-259 — re-advance folds only new events.
    engine.store.ingest(make_events(spark, 10, stream="s"))
    engine.register("c", "lambda prev, ev: prev + 1", stream_name="s",
                    initial_value=0)
    assert engine.advance("c").current_value == 10
    engine.store.ingest(make_events(spark, 5, stream="s"))
    proj = engine.advance("c")
    assert proj.current_value == 15
    assert proj.processed == 15


def test_stream_scoping(engine, spark):
    # projections.clj:111-112
    engine.store.ingest(make_events(spark, 7, stream="mine"))
    engine.store.ingest(make_events(spark, 9, stream="other"))
    engine.register("mine-count", "lambda p, e: p + 1",
                    stream_name="mine", initial_value=0)
    assert engine.advance("mine-count").current_value == 7


def test_ordered_fold_is_ordered(engine, spark):
    # Non-commutative fold: collect order_ids; must equal the sorted list.
    engine.store.ingest(make_events(spark, 50, stream="s"))
    engine.register("order", "lambda p, e: p + [e['order_id']]",
                    stream_name="s", initial_value=[])
    seen = engine.advance("order").current_value
    assert seen == sorted(seen) and len(seen) == 50


def test_virtual_stream_emission(engine, spark):
    # streams.clj:182-200 — successive states are emitted as a stream.
    engine.store.ingest(make_events(spark, 5, stream="s"))
    engine.register("v", "lambda p, e: p + 1", stream_name="s", initial_value=0)
    proj = engine.advance("v", emit_states=True)
    assert proj.emitted == [1, 2, 3, 4, 5]


def test_failure_capture(engine, spark):
    # streams.clj:84-97 — error ⇒ failed + last_error, state queryable.
    engine.store.ingest(make_events(spark, 5, stream="s"))
    engine.register("boom", "lambda p, e: p + 1/0", stream_name="s",
                    initial_value=0)
    proj = engine.advance("boom")
    assert proj.status == "failed"
    assert "division" in proj.last_error
    assert engine.advance("boom").status == "failed"  # fold stays stopped


def test_replace_and_delete_protection(engine, spark):
    engine.store.ingest(make_events(spark, 3, stream="s"))
    engine.register("p", "lambda p, e: p + 1", stream_name="s", initial_value=0)
    engine.register("p", "lambda p, e: p + 2", stream_name="s", initial_value=0)
    assert engine.advance("p").current_value == 6  # replaced fn, fresh state
    assert engine.unregister("p") is True
    assert engine.unregister("__streams__") is False  # core.clj:102-107


def test_value_keyed_lookup(engine, spark):
    # api.clj:61-64 — F5 keyed lookup into a map-valued projection.
    engine.store.ingest(make_events(spark, 4, stream="s"))
    engine.register(
        "per-type",
        "lambda p, e: {**p, e['event_type']: p.get(e['event_type'], 0) + 1}",
        stream_name="s", initial_value={})
    engine.advance("per-type")
    assert engine.value("per-type", "chatter-event") == 4
    assert engine.value("per-type", "missing") is None


def test_native_reducer_matches_serial(engine, spark):
    engine.store.ingest(make_events(spark, 100, stream="s"))
    engine.register("n-count", NativeReducer("count"), stream_name="s")
    assert engine.advance("n-count").current_value == 100
    # incremental advance across batches
    engine.store.ingest(make_events(spark, 50, stream="s"))
    proj = engine.advance("n-count")
    assert proj.current_value == 150 and proj.processed == 150


def test_associative_reducer_distributed(engine, spark):
    engine.store.ingest(make_events(spark, 200, stream="s"))
    red = AssociativeReducer(
        fold=lambda st, ev: st + ev["order_id"] % 7,
        merge=lambda a, b: a + b, zero=0)
    engine.register("assoc", red, stream_name="s", initial_value=0)
    got = engine.advance("assoc").current_value
    oids = [r["order_id"] for r in engine.store.read_cold("s").collect()]
    assert got == sum(o % 7 for o in oids)


def test_pyreducer_source_persisted(engine, spark):
    src = "lambda prev, ev: prev + 1"
    engine.register("p", src, stream_name="s")
    red = engine.projection("p").reducer
    assert isinstance(red, PyReducer) and red.source == src


def test_native_avg_skips_nulls_across_batches(spark, tmp_path):
    """Incremental native avg must weight batch averages by the count of
    NON-NULL sampled values, exactly like a single F.avg over everything
    — NULLs folded in a later batch must not dilute the merge."""
    import os
    from photon_spark.events import EventStore
    from photon_spark.projections.engine import NativeReducer, ProjectionEngine

    store = EventStore(spark, os.path.join(str(tmp_path), "ev"))
    engine = ProjectionEngine(store)
    engine.register("avg_v",
                    NativeReducer("avg", "get_json_object(payload, '$.v')"))

    def post(vals):
        rows = [("s", None, None, str(i), None,
                 (None if v is None else f'{{"v": {v}}}'))
                for i, v in enumerate(vals)]
        store.ingest(spark.createDataFrame(
            rows, "stream_name string, event_type string, service_id string,"
                  " local_id string, schema_tag string, payload string"))

    post([10.0])
    engine.advance("avg_v")
    assert engine.value("avg_v") == 10.0
    post([None, 20.0, 40.0])
    engine.advance("avg_v")
    # true avg over non-null = (10+20+40)/3; row-weighted would give 25
    assert abs(engine.value("avg_v") - 70.0 / 3) < 1e-9
    post([None, None])  # all-NULL batch: value unchanged, no corruption
    engine.advance("avg_v")
    assert abs(engine.value("avg_v") - 70.0 / 3) < 1e-9
    # and it matches the one-shot aggregate over the whole store
    from pyspark.sql import functions as F
    one_shot = store.read_all().agg(
        F.avg(F.expr("get_json_object(payload, '$.v')"))).first()[0]
    assert abs(engine.value("avg_v") - one_shot) < 1e-9


def test_emit_states_supported_on_every_tier(spark, tmp_path):
    """emit_states must not be silently ignored: serial emits per-event,
    native/associative emit their per-batch state."""
    import os
    from photon_spark.events import EventStore
    from photon_spark.projections.engine import (AssociativeReducer,
                                                 NativeReducer,
                                                 ProjectionEngine, PyReducer)

    store = EventStore(spark, os.path.join(str(tmp_path), "ev"))
    engine = ProjectionEngine(store)
    rows = [("s", None, None, str(i), None, "{}") for i in range(3)]
    store.ingest(spark.createDataFrame(
        rows, "stream_name string, event_type string, service_id string,"
              " local_id string, schema_tag string, payload string"))
    engine.register("n", NativeReducer("count"))
    engine.register("a", AssociativeReducer(
        fold=lambda st, ev: st + 1, merge=lambda x, y: x + y, zero=0))
    engine.register("p", PyReducer(fn=lambda st, ev: (st or 0) + 1,
                                   source="p"))
    assert engine.advance("n", emit_states=True).emitted == [3]
    assert engine.advance("a", emit_states=True).emitted == [3]
    assert engine.advance("p", emit_states=True).emitted == [1, 2, 3]


def test_fold_dataframe_associative_without_order_id(spark):
    """fold_dataframe advertises arbitrary DataFrames; the associative
    tier must take the same no-order_id fallback as the serial tier."""
    from photon_spark.projections.engine import (AssociativeReducer,
                                                 ProjectionEngine)

    df = spark.createDataFrame([(i,) for i in range(10)], "v long")
    proj = ProjectionEngine.fold_dataframe(
        AssociativeReducer(fold=lambda st, ev: st + ev["v"],
                           merge=lambda x, y: x + y, zero=0), df)
    assert proj.current_value == sum(range(10))
    assert proj.processed == 10


def test_native_count_distinct_across_batches(spark, tmp_path):
    """Distinct counts do not add across batches: the second fold must
    count values already seen in the first one once — through both
    ``advance`` and the streaming runner, which share the native fold."""
    from photon_spark.streaming.stateful import StreamingProjectionRunner

    store = EventStore(spark, str(tmp_path / "ev"))

    def post(stream, ids):
        store.ingest(spark.createDataFrame(
            [(stream, str(i)) for i in ids],
            "stream_name string, local_id string"))

    batch, streamed = ProjectionEngine(store), ProjectionEngine(store)
    for engine in (batch, streamed):
        engine.register("ids", NativeReducer("count_distinct", "local_id"),
                        stream_name="s")
    runner = StreamingProjectionRunner(
        streamed, checkpoint_dir=str(tmp_path / "ckpt"))

    post("s", range(5))
    post("other", range(100, 110))  # outside the projection's stream
    assert batch.advance("ids").current_value == 5
    runner.run(available_now=True)
    assert streamed.value("ids") == 5

    post("s", range(3, 6))
    assert batch.advance("ids").current_value == 6
    runner.run(available_now=True)
    assert streamed.value("ids") == 6
    assert batch.projection("ids").processed == 8
    assert streamed.projection("ids").processed == 8
