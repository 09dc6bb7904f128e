"""Photon-spark benchmark.

    python3 perfbench/run.py --workload api_closed_loop|curation_batch \\
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones listed in
BENCHMARK.json; with ``--trace 1`` the per-layer ones, measured by
wrapping each layer's calls from outside (see perfbench/README.md).
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import subprocess
import sys
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from harness import (RssSampler, cpu_ticks, emit, log,  # noqa: E402
                     median, pin_environment, start_session)

WORKLOADS = ("api_closed_loop", "curation_batch")
LAYERS = ("client", "queries", "api", "catalog", "events", "relations",
          "projections", "streaming", "streaming.cdc", "schema_infer",
          "pair_cache", "functions")
#: layers a catalogue query reaches; its wall time is reported per layer
QUERY_LAYERS = ("pair_cache", "streaming.cdc", "schema_infer")


@dataclass
class Context:
    """What a workload's ``run(ctx)`` gets."""
    spark: object
    seed: int
    seconds: float
    trace: bool
    tracer: object
    work: str


def _hooks(spark):
    """Span attributes for the traced run. They read three internals of
    ``photon_spark.relations`` (the plan-memo table, the app id and the
    job counter); the untraced run uses none of them."""
    from photon_spark import relations

    def memo_before(args, kwargs):
        key = args[1] if len(args) > 1 else kwargs["key"]
        return (relations._app_id(args[0]),) + tuple(key) in relations._MEMO

    def memo_after(sp, hit, args, kwargs, out):
        sp["hit"] = hit

    def jobs_before(args, kwargs):
        return relations._jobs_submitted(spark.sparkContext)

    def jobs_after(sp, jobs0, args, kwargs, out):
        sp["jobs"] = relations._jobs_submitted(spark.sparkContext) - jobs0

    def fold_after(sp, pre, args, kwargs, out):
        proj = args[1]
        sp["tier"] = type(proj.reducer).__name__
        sp["proj"] = proj.projection_name

    return {"relations.plan_memo": (memo_before, memo_after),
            "events.ingest": (jobs_before, jobs_after),
            "projections.fold_df": (None, fold_after)}


def _layer_metrics(res, tracer, session_s, event_dir) -> dict:
    from tracing import spark_log_metrics

    spans = tracer.spans
    loop = [s for s in spans if s["op"] is not None]
    measured = [s for s in loop if not s["op"].startswith("warm.")]
    catchup = [s for s in spans if s["op"] is None]
    n = max(sum(1 for traced, _ in res["cycles"] if traced), 1)

    def med_ms(items, name, **attrs):
        xs = [s["end"] - s["start"] for s in items if s["name"] == name
              and all(s.get(k) == v for k, v in attrs.items())]
        return (median(xs) * 1e3 if xs else 0.0), "ms"

    out = {"session.start_s": (session_s, "s")}
    selfs = tracer.self_times(measured)
    for layer in LAYERS:
        v = sum(t for k, t in selfs.items()
                if k == layer or (layer == "functions"
                                  and k.startswith("functions.")))
        out[f"{layer}.self_s"] = (v / n, "s")
    stamps = [s for s in measured if s["name"] == "relations.stamp"]
    out["relations.stamp.ms"] = med_ms(measured, "relations.stamp")
    out["relations.stamp.calls"] = (len(stamps) / n, "count")
    memo = [s for s in measured if s["name"] == "relations.plan_memo"]
    out["relations.plan_memo.hit_ratio"] = (
        sum(1 for s in memo if s["hit"]) / len(memo) if memo else 0.0,
        "ratio")
    out["events.ingest.ms"] = med_ms(measured, "events.ingest")
    ing = [s["jobs"] for s in measured if s["name"] == "events.ingest"]
    out["events.ingest.spark_jobs"] = (median(ing) if ing else 0.0, "count")
    out["events.read_all.ms"] = med_ms(measured, "events.read_all")
    for tier, key in (("NativeReducer", "native"),
                      ("AssociativeReducer", "assoc"),
                      ("PyReducer", "serial")):
        out[f"projections.advance.{key}.ms"] = med_ms(
            measured, "projections.fold_df", tier=tier)
    serial = [s["end"] - s["start"] for s in catchup
              if s["name"] == "projections.fold_df"
              and s.get("proj") == "bench_checksum"]
    out["projections.serial.eps"] = (
        res.get("n_seed", 0) / sum(serial) if serial else 0.0, "events/s")
    out["streaming.runner.batch_ms"] = med_ms(catchup,
                                              "streaming.apply_batch")
    out["streaming.runner.snapshot_ms"] = med_ms(
        catchup, "streaming.persist_snapshots")
    out["streaming.runner.batches"] = (sum(
        1 for s in catchup if s["name"] == "streaming.apply_batch"), "count")

    # wall time of each traced query, grouped by the layers its warm-up
    # call reached (a memoized plan is built only once)
    by_op: dict[str, list[dict]] = {}
    uses: dict[str, set] = {}
    for s in loop:
        by_op.setdefault(s["op"], []).append(s)
        if s["op"].startswith("warm."):
            uses.setdefault(s["op"][5:], set()).add(s["layer"])
    grouped: dict[str, float] = {}
    for op, items in by_op.items():
        if not op.startswith("pass"):
            continue
        wall = sum(s["end"] - s["start"] for s in items
                   if s["parent"] is None)
        for g in uses.get(op.split(".", 1)[1], ()):
            if g.startswith("functions.") or g in QUERY_LAYERS:
                grouped[g] = grouped.get(g, 0.0) + wall
    for g, v in grouped.items():
        out[f"{g}.s"] = (v / n, "s")

    if event_dir:
        for k, v in spark_log_metrics(event_dir, res["windows"], n).items():
            out[k] = (v, "bytes" if k.endswith("bytes") else
                      "s" if k.endswith("_s") else "count")
    out["trace.overhead_pct"] = (_overhead_pct(res["samples"]), "%")
    out.update(res["layer"])
    return out


def _overhead_pct(samples) -> float:
    """Tracing overhead: per operation kind, the median of traced samples
    against the median of untraced ones, summed over the kinds that have
    both."""
    by: dict[tuple[str, bool], list[float]] = {}
    for kind, traced, dt in samples:
        by.setdefault((kind, traced), []).append(dt)
    kinds = {k for k, t in by if (k, not t) in by}
    on = sum(median(by[(k, True)]) for k in kinds)
    off = sum(median(by[(k, False)]) for k in kinds)
    return (on / off - 1.0) * 100.0 if off else 0.0


def _declared(kind: str) -> dict[str, str]:
    """Metric names and units of one list in BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def _stop(spark) -> None:
    """Stop the session and the JVM it started, and wait for both."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _run(args, work: str):
    """Run one workload in ``work``; returns (ops, metrics)."""
    event_dir = os.path.join(work, "eventlog") if args.trace else None
    env = pin_environment(ROOT, work, event_dir)
    sys.path.insert(0, ROOT)

    module = importlib.import_module(args.workload)
    from tracing import Tracer
    tracer = Tracer()
    spark = None
    try:
        with RssSampler() as rss:
            spark, session_s = start_session()
            import pyspark
            env["spark"] = pyspark.__version__
            log(f"environment {json.dumps(env)}")
            if args.trace:
                import photon_spark.queries  # noqa: F401  (bind all modules)
                tracer.install(_hooks(spark))
            ctx = Context(spark, args.seed, args.seconds, bool(args.trace),
                          tracer, work)
            steal0, total0 = cpu_ticks()
            res = module.run(ctx)
            steal1, total1 = cpu_ticks()
            log(f"cpu steal {100 * (steal1 - steal0) / (total1 - total0):.1f}%"
                " of the machine")
            peak_mb = rss.peak_mb
    finally:
        tracer.uninstall()
        if spark is not None:
            _stop(spark)

    setup_s = session_s + sum(res["setup"].values())
    log("setup " + ", ".join(f"{k} {v:.2f}s" for k, v in
                             [("session", session_s), *res["setup"].items()]))
    ops = res["ops"]
    log(f"error_rate = {ops.failed}/{ops.attempted}")
    if args.trace:
        found = _layer_metrics(res, tracer, session_s, event_dir)
        found["memory.peak_rss_mb"] = (peak_mb, "MB")
        declared = _declared("per_layer")
        for k in set(found) - set(declared):
            log(f"undeclared per-layer metric {k}")
        # a layer this workload never calls reads 0
        metrics = {k: (found[k][0] if k in found else 0.0, u)
                   for k, u in declared.items()}
        trace_dir = os.path.join(os.getcwd(), ".perfbench_traces")
        tracer.write(os.path.join(
            trace_dir, f"{args.workload}-seed{args.seed}.jsonl"))
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "op_cpu_ms": (res["op_cpu_ms"], "ms"),
            "cycle_cpu_s": (res["cycle_cpu_s"], "s"),
        }
    for k, (v, u) in metrics.items():
        log(f"{k} = {v:.6g} {u}")
    for k in ("client.op_geomean_ms", "client.cycle_s"):
        v, u = res["layer"][k]
        log(f"{k} = {v:.6g} {u} (wall clock)")
    return ops, metrics


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "photon_spark", "session.py")):
        log(f"photon_spark is not in {ROOT}; run from a full checkout")
        return 2
    work = os.path.join(os.getcwd(), ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        ops, metrics = _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    emit(ops, metrics)
    return 0


if __name__ == "__main__":
    t_start = time.perf_counter()
    code = main()
    log(f"total {time.perf_counter() - t_start:.1f}s")
    sys.exit(code)
