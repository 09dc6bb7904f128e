"""Session-scoped memo for base-relation DataFrame construction.

``spark.read.parquet(path)`` costs a reader build, a footer schema read
and an analysis pass — ~0.1-0.2 s of driver/py4j latency EVERY call.
The gate registry reads the same handful of immutable corpus tables
hundreds of times per bench pass, so repeated construction latency (not
the scan itself) was a measurable slice of every query's wall time
(optimization guide §1.2: driver round trips dominate small steps).

A DataFrame is a reusable logical plan: building it once per
(session, path, file-stamp) and handing the same plan object to every
consumer changes NOTHING about execution — every action still plans,
optimizes and scans parquet from disk; no data or results are cached —
it only deletes the repeated driver-side plan construction, exactly the
way a production engine resolves a warehouse table through its catalog
once instead of re-listing files per query.

Key safety:

- the session's ``applicationId`` is in the key, so a plan never leaks
  across SparkSessions (the test suite starts/stops many);
- the file stamp (mtime_ns+size; per-entry (name, mtime_ns) for
  directory tables) is in the key, so a corpus regenerated IN PLACE
  gets a fresh plan instead of a stale schema (same contract as
  ``pair_cache._corpus_stamp``, hardened to ns precision so
  same-second replaces cannot alias).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

_MEMO: dict[tuple, DataFrame] = {}

#: superseded-stamp and stopped-session entries are unreachable but
#: retained; a long-lived mutate-read loop would otherwise grow the
#: dict (and pin JVM plan objects) without bound. Clearing is always
#: safe — plans rebuild on the next call.
_MEMO_CAP = 4096


def _memo_put(key: tuple, value) -> None:
    if len(_MEMO) >= _MEMO_CAP:
        _MEMO.clear()
    _MEMO[key] = value


_STAMP_FAIL_SEQ = 0

#: recursion bound for directory stamps. Every staged layout today
#: writes at most two levels deep (pairs/batch=<tag>/part-*.parquet);
#: the bound leaves headroom so a future nested layout still
#: invalidates, instead of silently relying on parent-dir mtimes the
#: filesystem only updates for entry create/delete — an in-place
#: same-name rewrite two levels down would otherwise never be seen
#: (ADVICE r12). Past the bound, the entry's own (mtime_ns, size) is
#: the fingerprint, which restores exactly the old first-level rule.
_STAMP_MAX_DEPTH = 4


def _stamp(path: str, _depth: int = _STAMP_MAX_DEPTH) -> tuple:
    try:
        if os.path.isdir(path):
            # per-entry fingerprint, RECURSIVE to _STAMP_MAX_DEPTH:
            # catches appends/deletes (names), in-place file replaces at
            # any covered depth (the file's own mtime_ns + size), at
            # full ns precision so same-second replaces can't alias
            out = []
            for e in sorted(os.listdir(path)):
                p = os.path.join(path, e)
                if os.path.isdir(p) and _depth > 1:
                    out.append((e, _stamp(p, _depth - 1)))
                else:
                    st = os.stat(p)
                    out.append((e, st.st_mtime_ns, st.st_size))
            return tuple(out)
        st = os.stat(path)
        return (st.st_mtime_ns, st.st_size)
    except OSError:
        # missing path or racing mutation mid-stat: return a UNIQUE
        # sentinel so the key can never be hit again — the build (or
        # its error) happens fresh, and nothing stale is ever served
        # under an aliased "missing" key
        global _STAMP_FAIL_SEQ
        _STAMP_FAIL_SEQ += 1
        return ("unstampable", _STAMP_FAIL_SEQ)


def _app_id(spark: SparkSession) -> str:
    aid = spark.__dict__.get("_photon_app_id")
    if aid is None:
        aid = spark.sparkContext.applicationId
        spark._photon_app_id = aid
    return aid


def plan_memo(spark: SparkSession, key: tuple, build) -> DataFrame:
    """Generic session-scoped plan-fragment memo: return the DataFrame
    built by ``build()`` for this (session, key), building at most once.
    ``build`` must be a pure plan constructor (no side effects, no
    data materialization) whose output is fully determined by ``key``."""
    full = (_app_id(spark),) + key
    df = _MEMO.get(full)
    if df is None:
        df = build()
        _memo_put(full, df)
    return df


#: queries proven unsafe to memoize in this process (side effects,
#: checkpointed state, or reads outside the immutable sf_dir) — the
#: safety probe runs once per query, not per call
_MEMO_DENY: set[str] = set()


def _jobs_submitted(sc) -> int:
    """Monotone count of ALL jobs ever SUBMITTED in this SparkContext,
    read from the DAGScheduler's job-id allocator. Unlike the status
    store / status tracker, it is assigned synchronously at submission
    (no listener-bus lag, no retained-jobs eviction) and sees every
    driver thread. The caller treats a read failure as jobs-ran (never
    memoize on uncertainty). py4j converts the AtomicInteger (a
    java.lang.Number) to a plain int at the boundary."""
    return int(sc._jsc.sc().dagScheduler().nextJobId())

#: realpaths of staged tables whose owner guarantees WRITE-ONCE
#: contents (e.g. the pair_cache near-dup table, keyed by corpus stamp
#: and never appended). Plans whose file leaves sit under these dirs
#: are as safe to reuse as sf_dir reads; every MUTABLE staged store
#: (event store, incremental pair table, IVF generations) must NOT be
#: registered here.
IMMUTABLE_DIRS: set[str] = set()


#: logical-plan leaves that are always safe to re-execute from a stored
#: plan: file relations (re-scanned every action), literal relations,
#: and Range. Anything else (LogicalRDD from localCheckpoint /
#: createDataFrame-over-RDD, streaming relations, ...) denies the memo.
_SAFE_LITERAL_LEAVES = {"LocalRelation", "OneRowRelation", "Range"}


def _leaf_file_roots(jplan) -> list[str] | None:
    """Root paths of every file-relation leaf of an analyzed plan —
    INCLUDING leaves inside scalar/IN/EXISTS subquery plans, which
    ``collectLeaves`` alone does not traverse (ADVICE r12: a plan whose
    only mutable-state reference sits in a subquery expression must not
    be certified from the main plan's leaves) — or ``None`` if any leaf
    can't be certified (RDD-backed, streaming, unknown)."""
    roots: list[str] = []
    plans = [jplan]
    try:
        subs = jplan.subqueriesAll()
        for i in range(subs.size()):
            plans.append(subs.apply(i))
    except Exception:
        return None
    for p in plans:
        leaves = p.collectLeaves()
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            cls = leaf.getClass().getSimpleName()
            if cls in _SAFE_LITERAL_LEAVES:
                continue
            if cls != "LogicalRelation":
                return None
            try:
                rp = leaf.relation().location().rootPaths()
            except Exception:
                return None
            for j in range(rp.size()):
                roots.append(rp.apply(j).toString())
    return roots


def memo_query(name: str, fn):
    """Wrap a registry query so its ANALYZED LOGICAL PLAN is reused
    across calls when — and only when — reuse is provably equivalent to
    rebuilding:

    - construction submitted ZERO Spark jobs (no staging writes, no
      driver-algorithm collects, no streaming runs — those rows must
      re-run their side effects every invocation, so they are never
      memoized);
    - every plan leaf is a file relation rooted under the query's
      ``sf_dir`` (or a literal/Range). Plans over process-staged
      tempdir state (IVF cell stores, pair tables, event stores) can be
      mutated by sibling queries, and RDD-backed leaves
      (``localCheckpoint``) pin materialized blocks, so both rebuild
      fresh every call exactly as before.

    The zero-jobs probe reads the DAGScheduler's job-id allocator
    before and after construction, so it counts jobs submitted from
    EVERY driver thread (worker-thread staging writes included — the
    thread-local job-group probe this replaces was blind to them,
    ADVICE r12) with no job group set or cleared (a harness's own job
    group survives construction untouched). Jobs an engine thread
    submits AFTER construction returns remain invisible to any counter
    — every such row also reads its staged tempdir state back, so the
    leaf/file check below is the backstop that actually denies those
    memos.

    On a hit the stored plan is wrapped in a FRESH Dataset
    (``Dataset.ofRows``), so every call gets its own query execution:
    new physical planning, new shuffle dependencies, a full
    recomputation from the parquet inputs. (Returning the same Dataset
    object would let the scheduler reuse run-1 shuffle map outputs —
    measured 0.10 s vs 2.27 s on a test shuffle — which is exactly the
    cross-run result reuse the bench contract forbids; ofRows was
    verified to re-execute at full cost.) Only the repeated driver-side
    construction — py4j round trips plus per-operation eager
    re-analysis, measured 0.3-1.2 s/query at sf0.1 — is skipped. The
    sf_dir stamp is in the key, so a regenerated corpus invalidates."""
    import functools

    @functools.wraps(fn)
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        sf_real = os.path.realpath(sf_dir)
        key = (_app_id(spark), "query", name, sf_real, _stamp(sf_real))
        hit = _MEMO.get(key)
        if hit is not None:
            jplan, cached = hit
            jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
                spark._jsparkSession, jplan)
            df = DataFrame(jdf, spark)
            if cached:
                df._photon_cached = cached
            return df
        if name in _MEMO_DENY:
            return fn(spark, sf_dir)
        sc = spark.sparkContext
        try:
            before = _jobs_submitted(sc)
        except Exception:
            before = None
        df = fn(spark, sf_dir)
        try:
            if before is None or _jobs_submitted(sc) != before:
                # NOT a permanent deny: first-call constructions run
                # one-time warm-up jobs (base-table schema reads,
                # staging memos). A later clean construction can still
                # memoize; rows with REAL per-call side effects submit
                # jobs on every call and never pass.
                return df
            jplan = df._jdf.queryExecution().analyzed()
            roots = _leaf_file_roots(jplan)
            if roots is None:
                _MEMO_DENY.add(name)
                return df
            pfx = sf_real + os.sep

            def _local(f: str) -> str:
                if f.startswith("file:"):
                    f = "/" + f[5:].lstrip("/")
                return os.path.realpath(f)

            def _allowed(r: str) -> bool:
                p = _local(r)
                return (p.startswith(pfx)
                        or any(p == d or p.startswith(d + os.sep)
                               for d in IMMUTABLE_DIRS))

            if not all(_allowed(r) for r in roots):
                _MEMO_DENY.add(name)
                return df
        except Exception:
            _MEMO_DENY.add(name)
            return df
        _memo_put(key, (jplan, list(getattr(df, "_photon_cached", [])) or None))
        return df

    return wrapped


def read_base(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Memoized ``spark.read.parquet(f"{sf_dir}/{name}.parquet")``.

    The two reader confs `_t` historically pinned are (re-)asserted on
    EVERY call — hits included — so a caller that flipped either conf
    mid-session can never be served a plan analyzed under a different
    setting than the one its own fresh read would have used (ADVICE
    r12; two cheap conf calls)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.abspath(os.path.join(sf_dir, f"{name}.parquet"))
    return plan_memo(spark, ("base", path, _stamp(path)),
                     lambda: spark.read.parquet(path))
