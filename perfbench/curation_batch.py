"""Workload ``curation_batch``: a fixed set of catalogue queries over
generated tables.

Set-up generates the ten catalogue tables from the seed and runs each
query twice to warm it. The run then makes whole passes over the set
until its time is up, and at least two, collecting every result. Each
result is hashed (order insensitive) outside the timed call and compared
with the query's DuckDB oracle over the same files.

The set reaches ``photon_spark.functions`` (dedup), the shared
near-duplicate pair table, the CDC merge table and schema inference,
through the ``relations`` plan memo. It never touches the event store or
the projection engine, so it is the control for changes there.
"""

from __future__ import annotations

import hashlib
import math
import os
import time

import datagen
from harness import Ops, TreeCpu, geomean, log, median

SF = 0.005
SETUP_REPEATS = 3
WARMUP_ROUNDS = 2
QUERIES = (
    "dedup_clusters",               # functions.dedup, pair_cache
    "cdc_merge_state",              # streaming.cdc
    "schema_inference",             # schema_infer
)


def _canon(val) -> str:
    import datetime
    if val is None:
        return "∅"
    if isinstance(val, float):
        if math.isnan(val):
            return "nan"
        if val == int(val) and abs(val) < 1e15:
            return str(int(val))
        return f"{val:.9g}"
    if isinstance(val, (datetime.datetime, datetime.date)):
        return val.isoformat()
    if isinstance(val, (list, tuple)):
        return "[" + ",".join(_canon(v) for v in val) + "]"
    return str(val)


def value_hash(rows, cols) -> str:
    """Order-insensitive hash of a result over its sorted column names.

    Same canonical form as ``tools/check_correctness.py``, kept here so
    that a later change to the repository's tools cannot change what the
    benchmark accepts as correct."""
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    lines = sorted("|".join(_canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def _oracles(data_dir: str, names) -> dict[str, tuple[int, str]]:
    import duckdb

    from photon_spark import queries as q
    con = duckdb.connect()
    try:
        for t in datagen.TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(data_dir, t)}.parquet'")
        out = {}
        for n in names:
            rel = con.sql(q.ORACLES[n])
            rows = rel.fetchall()
            out[n] = (len(rows), value_hash(rows, rel.columns))
        return out
    finally:
        con.close()


def run(ctx) -> dict:
    from photon_spark import queries as q

    spark, ops, tracer = ctx.spark, Ops(), ctx.tracer
    setup = {}

    reps = []
    for i in range(SETUP_REPEATS):
        data_dir = os.path.join(ctx.work, f"tables{i}")
        t0 = time.perf_counter()
        datagen.write_catalogue(data_dir, ctx.seed, SF)
        reps.append(time.perf_counter() - t0)
    setup["generate"] = median(reps)
    expected = _oracles(data_dir, QUERIES)

    tree_cpu = TreeCpu()

    def execute(name):
        """Run one query; returns its (wall, CPU) seconds, or None."""
        spark.catalog.clearCache()
        ops.attempted += 1
        c0 = tree_cpu()
        t0 = time.perf_counter()
        try:
            df = tracer.measure(f"query.{name}", "queries",
                                lambda: q.QUERIES[name](spark, data_dir))
            rows = tracer.measure("client.collect", "client", df.collect)
            cols = df.columns
        except Exception as exc:
            ops.fail(f"{name} raised {exc!r}"[:500])
            return None
        dt = time.perf_counter() - t0
        dc = tree_cpu() - c0
        n, h = expected[name]
        ops.check(len(rows) == n and value_hash(rows, cols) == h,
                  f"{name}: {len(rows)} rows, oracle {n}; hash differs"
                  if len(rows) == n else f"{name}: {len(rows)} rows, "
                  f"oracle {n}")
        return dt, dc

    # Warm-up builds every plan once (memoized queries never rebuild
    # it); traced runs record the first round to learn which layers each
    # query uses. Later rounds let the JVM settle.
    t0 = time.perf_counter()
    tree_cpu.refresh()
    for rnd in range(WARMUP_ROUNDS):
        tracer.enabled = ctx.trace and rnd == 0
        for name in QUERIES:
            tracer.op_id = f"warm.{name}"
            t1 = time.perf_counter()
            execute(name)
            log(f"warm-up {rnd} {name}: {time.perf_counter() - t1:.2f}s")
    setup["warm_up"] = time.perf_counter() - t0
    tracer.enabled = False

    passes: list[tuple[bool, float]] = []
    samples: list[tuple[str, bool, float]] = []
    per_query: dict[str, list[float]] = {n: [] for n in QUERIES}
    cpu: dict[str, list[float]] = {n: [] for n in QUERIES}
    pass_cpu: list[float] = []
    windows = []
    start = time.perf_counter()
    while time.perf_counter() - start < ctx.seconds or len(passes) < 2:
        traced = ctx.trace and len(passes) % 2 == 0
        tracer.enabled = traced
        tree_cpu.refresh()
        w0, total, total_cpu = time.time(), 0.0, 0.0
        for name in QUERIES:
            tracer.op_id = f"pass{len(passes)}.{name}"
            out = execute(name)
            if out is not None:
                dt, dc = out
                per_query[name].append(dt)
                cpu[name].append(dc)
                samples.append((name, traced, dt))
                total += dt
                total_cpu += dc
        tracer.enabled = False
        tracer.op_id = None
        if traced:
            windows.append((w0, time.time()))
        passes.append((traced, total))
        pass_cpu.append(total_cpu)
    log(f"{len(passes)} passes in {time.perf_counter() - start:.1f}s")

    for n in QUERIES:
        log(f"{n}: median {median(per_query[n]):.3f}s, "
            f"cpu {median(cpu[n]):.2f}s")
    log("passes " + " ".join(f"{c:.3f}" for _, c in passes)
        + ", cpu " + " ".join(f"{c:.2f}" for c in pass_cpu))
    return {
        "ops": ops, "setup": setup, "cycles": passes, "windows": windows,
        "samples": samples,
        "op_cpu_ms": geomean([median(v) for v in cpu.values() if v]) * 1e3,
        "cycle_cpu_s": median(pass_cpu),
        "layer": {
            "client.op_geomean_ms": (geomean(
                [median(v) for v in per_query.values() if v]) * 1e3, "ms"),
            "client.cycle_s": (median([c for _, c in passes]), "s"),
        },
    }
