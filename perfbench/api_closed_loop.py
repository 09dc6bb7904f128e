"""Workload ``api_closed_loop``: one closed-loop client on the PhotonAPI
request path.

Set-up seeds an event store with 5k generated events over five streams,
opens ``PhotonAPI`` on a fresh copy of it and registers a native ``count``
projection and a serial order-sensitive checksum projection next to the
built-in associative ``__streams__`` projection. Traced runs then catch all
of them up through ``StreamingProjectionRunner`` (hot-cold replay); in
untraced runs the first warm-up iteration's projection reads fold the seeded
store instead. The client then loops until the run's time is up, and for
at least three iterations. Each iteration it appends one event, reads it
back, reads a stream's first page and the next page of another stream
(cursor paging), and reads both projections right after its own write.
Every other iteration, the first measured one included, it also ingests a
1k-event batch and reads the per-stream totals. Every result is checked
against values computed from the generated inputs alone, outside the
timed calls."""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np

import datagen
from harness import Ops, TreeCpu, geomean, log, median, tail

N_SEED = 5_000
BATCH = 1_000
BATCH_EVERY = 2
PAGE = 50
SETUP_REPEATS = 3
WARMUP_ITERATIONS = 3
COUNT = "bench_count"
CHECKSUM = "bench_checksum"
MOD = 1_000_000_007
CHECKSUM_SRC = f"lambda s, ev: (s * 31 + int(ev['local_id']) + 1) % {MOD}"
#: the request kinds every iteration makes; a cycle is their sum (the
#: batch ingest and streams() of every other iteration are left out, so
#: all cycles carry the same work)
MIX = ("append", "read", "fresh_read")


class Expected:
    """Store contents as the client knows them from its own inputs."""

    def __init__(self):
        self.total = 0
        self.checksum = 0
        self.per_stream: dict[str, int] = {}

    def add(self, streams, ids) -> None:
        for s, i in zip(streams, ids):
            self.per_stream[s] = self.per_stream.get(s, 0) + 1
            self.checksum = (self.checksum * 31 + int(i) + 1) % MOD
        self.total += len(ids)


def _data_stats(path: str) -> tuple[int, int]:
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def run(ctx) -> dict:
    from photon_spark.api import PhotonAPI
    from photon_spark.events import EventStore
    from photon_spark.projections.engine import NativeReducer
    from photon_spark.streaming.stateful import StreamingProjectionRunner

    spark, ops, tracer = ctx.spark, Ops(), ctx.tracer
    rng = np.random.default_rng([ctx.seed, 7])
    exp = Expected()
    setup = {}

    # --- seed the template store (once) ------------------------------
    t0 = time.perf_counter()
    seed_events = datagen.store_events(ctx.seed, N_SEED)
    setup["generate"] = time.perf_counter() - t0
    template = os.path.join(ctx.work, "template")
    t0 = time.perf_counter()
    EventStore(spark, template).ingest(spark.createDataFrame(seed_events))
    setup["seed_store"] = time.perf_counter() - t0
    exp.add(seed_events["stream_name"], seed_events["local_id"])

    # Each stream's events in input order, which must be their order_id
    # order: the pages the client reads are checked against these.
    pages = {st: g["local_id"].astype(int).tolist()
             for st, g in seed_events.groupby("stream_name")}

    # --- open the API on a fresh copy (repeated; median reported) ----
    reps = []
    for i in range(SETUP_REPEATS):
        path = os.path.join(ctx.work, f"store{i}")
        t0 = time.perf_counter()
        shutil.copytree(template, path)
        api = PhotonAPI(spark, path)
        api.engine.register(COUNT, NativeReducer("count"))
        api.engine.register(CHECKSUM, CHECKSUM_SRC, initial_value=0)
        reps.append(time.perf_counter() - t0)
        if i + 1 < SETUP_REPEATS:
            shutil.rmtree(path)
    setup["open_api"] = median(reps)

    # --- hot-cold catch-up of every projection (traced runs) --------
    # The untraced run leaves the catch-up to the projection reads of the
    # first warm-up iteration, which fold the seeded store incrementally.
    catchup_s = 0.0
    if ctx.trace:
        tracer.enabled = True
        t0 = time.perf_counter()
        runner = StreamingProjectionRunner(
            api.engine, checkpoint_dir=os.path.join(ctx.work, "ckpt"),
            state_path=os.path.join(ctx.work, "state"))
        ops.attempted += 1
        try:
            runner.run(available_now=True, timeout_sec=170)
        except Exception as exc:  # a failed stream is a failed operation
            ops.fail(f"catch-up stream failed: {exc!r}"[:500])
        catchup_s = time.perf_counter() - t0
        tracer.enabled = False
        setup["catch_up"] = catchup_s
        ops.check(api.engine.value(COUNT) == exp.total
                  and api.engine.value(CHECKSUM) == exp.checksum
                  and api.engine.value("__streams__") == exp.per_stream,
                  "catch-up left a projection at the wrong value")

    # --- the closed loop ----------------------------------------------
    streams = list(datagen.STREAMS)
    lat: dict[str, list[float]] = {k: [] for k in
                                   ("append", "read", "fresh_read",
                                    "ingest", "streams")}
    per_op: dict[str, list[float]] = {}      # wall seconds per call
    per_op_cpu: dict[str, list[float]] = {}  # CPU seconds per call
    cycles: list[tuple[bool, float]] = []
    samples: list[tuple[str, bool, float]] = []
    cursor: dict[str, tuple[int, int]] = {}

    def timed(kind, name, fn, *args, **kwargs):
        ops.attempted += 1
        c = tree_cpu()
        t = time.perf_counter()
        try:
            out = tracer.measure(f"client.{name}", "client", fn,
                                 *args, **kwargs)
        except Exception as exc:
            ops.fail(f"{name} raised {exc!r}"[:500])
            out = None
        dt = time.perf_counter() - t
        dc = tree_cpu() - c
        if record:
            lat[kind].append(dt)
            per_op.setdefault(name, []).append(dt)
            per_op_cpu.setdefault(name, []).append(dc)
            samples.append((kind, tracer.enabled, dt))
            if kind in MIX:
                cycle[0] += dt
                cycle[1] += dc
        return out

    def iteration(i, batch):
        tree_cpu.refresh()
        tracer.op_id = f"it{i}"
        stream = streams[int(rng.integers(0, len(streams)))]
        lid = exp.total
        payload = json.dumps({"k": int(rng.integers(0, 100)), "v": i})
        n = timed("append", "post_event", api.post_event, stream,
                  payload, event_type="bench", service_id="perfbench",
                  local_id=str(lid))
        if ops.check(n == 1, f"post_event returned {n}"):
            exp.add([stream], [lid])
        oid = api.store.max_order_id()
        row = timed("read", "get_event", api.get_event, stream, oid)
        ops.check(row is not None and row["local_id"] == str(lid)
                  and row["payload"] == payload
                  and row["stream_name"] == stream,
                  f"get_event({stream}, {oid}) did not return the event "
                  f"just posted: {row}")
        s = streams[i % len(streams)]
        rows = timed("read", "stream_contents",
                     lambda: api.stream_contents(s).collect())
        got = [int(r["local_id"]) for r in rows or []]
        ops.check(got == pages[s][:PAGE],
                  f"stream_contents({s}) returned the wrong page")
        # cursor paging: each stream is read forward one page at a time
        s = streams[(i + 2) % len(streams)]
        pos, frm = cursor.get(s, (0, 0))
        rows = timed("read", "read_cold",
                     lambda: api.store.read_cold(
                         s, from_=frm, limit=PAGE).collect())
        got = [int(r["local_id"]) for r in rows or []]
        if ops.check(got == pages[s][pos:pos + PAGE],
                     f"read_cold({s}, from={frm}) returned the wrong page"):
            cursor[s] = (pos + PAGE, rows[-1]["order_id"] + 1)
        v = timed("fresh_read", "projection_value.native",
                  api.projection_value, COUNT)
        ops.check(v == exp.total, f"{COUNT} = {v}, expected {exp.total}")
        v = timed("fresh_read", "projection_value.serial",
                  api.projection_value, CHECKSUM)
        ops.check(v == exp.checksum, f"{CHECKSUM} = {v}, expected "
                  f"{exp.checksum}")
        if batch:
            new = datagen.store_events(ctx.seed, BATCH, first_id=exp.total)
            df = spark.createDataFrame(new)
            n = timed("ingest", "ingest", api.store.ingest, df)
            if ops.check(n == BATCH, f"ingest returned {n}"):
                exp.add(new["stream_name"], new["local_id"])
            got = timed("streams", "streams", api.streams)
            ops.check({d["stream"]: d["total-events"] for d in got or []}
                      == exp.per_stream, "streams() totals differ")
        tracer.op_id = None

    record = False
    cycle = [0.0, 0.0]     # wall and CPU seconds of this iteration's MIX
    tree_cpu = TreeCpu()
    t0 = time.perf_counter()
    for i in range(WARMUP_ITERATIONS):
        iteration(i, batch=True)
    setup["warm_up"] = time.perf_counter() - t0

    record = True
    windows = []
    cycle_cpu = []
    start = time.perf_counter()
    i = WARMUP_ITERATIONS
    while time.perf_counter() - start < ctx.seconds or len(cycles) < 3:
        # The first measured iteration is a batch one, so every run has a
        # sample of each kind of request. Traced runs trace every other
        # iteration (all batch iterations among them); the rest give the
        # untraced side of the overhead.
        batch = (i - WARMUP_ITERATIONS) % BATCH_EVERY == 0
        traced = ctx.trace and (i - WARMUP_ITERATIONS) % 2 == 0
        tracer.enabled = traced
        cycle[:] = [0.0, 0.0]
        w0 = time.time()
        iteration(i, batch)
        tracer.enabled = False
        if traced:
            windows.append((w0, time.time()))
        cycles.append((traced, cycle[0]))
        cycle_cpu.append(cycle[1])
        i += 1
    log(f"{len(cycles)} iterations in {time.perf_counter() - start:.1f}s")
    log("cycles " + " ".join(f"{c:.3f}" for _, c in cycles)
        + ", cpu " + " ".join(f"{c:.2f}" for c in cycle_cpu))

    final = api.streams()
    ops.check({d["stream"]: d["total-events"] for d in final}
              == exp.per_stream, "final streams() totals differ")
    files, size = _data_stats(api.store._data_dir())

    for name, v in sorted(per_op.items()):
        log(f"{name}: median {median(v) * 1e3:.1f} ms, cpu "
            f"{median(per_op_cpu[name]) * 1e3:.0f} ms, n={len(v)}")
    out = {
        "ops": ops, "setup": setup, "cycles": cycles, "windows": windows,
        "samples": samples,
        "op_cpu_ms": geomean([median(v) for v in per_op_cpu.values()]) * 1e3,
        "cycle_cpu_s": median(cycle_cpu),
        "layer": {
            "client.op_geomean_ms": (
                geomean([median(v) for v in per_op.values()]) * 1e3, "ms"),
            "client.cycle_s": (median([c for _, c in cycles]), "s"),
        },
    }
    layer = out["layer"]
    for kind in ("append", "read", "fresh_read"):
        q, v = tail(lat[kind])
        log(f"api.{kind}: p50 {median(lat[kind]) * 1e3:.1f} ms, "
            f"tail p{q} {v * 1e3:.1f} ms, n={len(lat[kind])}")
        layer[f"api.{kind}.p50_ms"] = (median(lat[kind]) * 1e3, "ms")
        layer[f"api.{kind}.tail_ms"] = (v * 1e3, "ms")
    layer["api.ingest_eps"] = (
        BATCH / median(lat["ingest"]) if lat["ingest"] else 0.0, "events/s")
    if catchup_s:
        layer["projections.catchup_eps"] = (N_SEED / catchup_s,
                                            "events/s")
    layer["events.data_files"] = (files, "count")
    layer["events.bytes_per_event"] = (size / exp.total, "B")
    out["n_seed"] = N_SEED
    return out
