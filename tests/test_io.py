"""Fixture-loader hardening: the driver regenerates the parquet fixtures
between rounds and has already flipped events.ts between TIMESTAMP(NANOS)
and timestamp[us] (round-3 regression — 32 ops died on the unconditional
nanos conversion). These tests fabricate every physical type the driver
has shipped so the next drift is caught locally, and pin the normalized
schema of all ten tables."""

from __future__ import annotations

import datetime as dt
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from sqlite_to_clickhouse_spark import io

_WALL = dt.datetime(2024, 3, 1, 12, 34, 56, 789000)
_EPOCH_US = int(_WALL.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)


def _write_events(tmpdir: str, ts_array: pa.Array) -> str:
    table = pa.table(
        {
            "event_id": pa.array([1], pa.int64()),
            "ts": ts_array,
            "user_id": pa.array([7], pa.int64()),
            "event_type": pa.array(["click"], pa.string()),
            "value": pa.array([1.5], pa.float64()),
            "props": pa.array(['{"k":1}'], pa.string()),
        }
    )
    pq.write_table(table, os.path.join(tmpdir, "events.parquet"))
    return tmpdir


_TS_VARIANTS = {
    "nanos_as_long": pa.array([_EPOCH_US * 1000], pa.int64()),
    "timestamp_us": pa.array([_EPOCH_US], pa.timestamp("us")),
    "timestamp_ns": pa.array([_EPOCH_US * 1000], pa.timestamp("ns")),
    "timestamp_ms": pa.array([_EPOCH_US // 1000], pa.timestamp("ms")),
}


@pytest.mark.parametrize("variant", sorted(_TS_VARIANTS))
def test_events_ts_normalizes_any_physical_type(spark, tmp_path, variant):
    """io.table must yield the same TIMESTAMP wall-clock value whatever
    physical ts type the driver writes next."""
    d = _write_events(str(tmp_path), _TS_VARIANTS[variant])
    df = io.table(spark, d, "events")
    assert dict(df.dtypes)["ts"] == "timestamp", variant
    [row] = df.collect()
    assert row["ts"].replace(tzinfo=None) == _WALL, variant


def test_fixture_schemas_normalized(spark, sf_dir):
    """Pin the post-normalization schema of every fixture table so fixture
    regeneration shows up as a local red, not a driver-window surprise."""
    expected = {
        "region": {"r_regionkey": "int", "r_name": "string"},
        "nation": {"n_nationkey": "int", "n_name": "string", "n_regionkey": "int"},
        "customer": {
            "c_custkey": "bigint",
            "c_name": "string",
            "c_nationkey": "int",
            "c_acctbal": "double",
            "c_mktsegment": "string",
        },
        "supplier": {
            "s_suppkey": "bigint",
            "s_name": "string",
            "s_nationkey": "int",
            "s_acctbal": "double",
        },
        "part": {
            "p_partkey": "bigint",
            "p_name": "string",
            "p_brand": "string",
            "p_type": "string",
            "p_size": "int",
            "p_retailprice": "double",
        },
        "orders": {
            "o_orderkey": "bigint",
            "o_custkey": "bigint",
            "o_orderstatus": "string",
            "o_totalprice": "double",
            "o_orderdate": "timestamp_ntz",
            "o_orderpriority": "string",
        },
        "lineitem": {
            "l_orderkey": "bigint",
            "l_partkey": "bigint",
            "l_suppkey": "bigint",
            "l_linenumber": "int",
            "l_quantity": "double",
            "l_extendedprice": "double",
            "l_discount": "double",
            "l_tax": "double",
            "l_returnflag": "string",
            "l_linestatus": "string",
            "l_shipdate": "timestamp_ntz",
        },
        "events": {
            "event_id": "bigint",
            "ts": "timestamp",
            "user_id": "bigint",
            "event_type": "string",
            "value": "double",
            "props": "string",
        },
        "documents": {
            "doc_id": "bigint",
            "text": "string",
            "lang": "string",
            "source": "string",
            "n_chars": "bigint",
        },
        "embeddings": {
            "vec_id": "bigint",
            "embedding": "array<float>",
            "label": "int",
        },
    }
    for t in io.TABLES:
        got = dict(io.table(spark, sf_dir, t).dtypes)
        assert got == expected[t], f"{t}: {got}"


def test_streaming_loader_matches_batch(spark, sf_dir):
    """events_stream must produce the identical schema to io.table — the
    round-3 regression had the same bug duplicated in both loaders."""
    from sqlite_to_clickhouse_spark.streaming.ops import events_stream

    batch = io.table(spark, sf_dir, "events")
    stream = events_stream(spark, sf_dir)
    assert stream.schema == batch.schema


@pytest.mark.parametrize("variant", ["nanos_as_long", "timestamp_us"])
def test_orders_date_normalizes_long_reads(spark, tmp_path, variant):
    """If the driver regenerates orders with TIMESTAMP(NANOS) (read as
    long), the loader must convert it like events.ts; a timestamp[us]
    fixture stays NTZ as today (oracles validated against that)."""
    arrs = {
        "nanos_as_long": pa.array([_EPOCH_US * 1000], pa.int64()),
        "timestamp_us": pa.array([_EPOCH_US], pa.timestamp("us")),
    }
    table = pa.table(
        {
            "o_orderkey": pa.array([1], pa.int64()),
            "o_custkey": pa.array([2], pa.int64()),
            "o_orderstatus": pa.array(["O"], pa.string()),
            "o_totalprice": pa.array([10.5], pa.float64()),
            "o_orderdate": arrs[variant],
            "o_orderpriority": pa.array(["1-URGENT"], pa.string()),
        }
    )
    pq.write_table(table, os.path.join(str(tmp_path), "orders.parquet"))
    df = io.table(spark, str(tmp_path), "orders")
    dt = dict(df.dtypes)["o_orderdate"]
    assert dt in ("timestamp", "timestamp_ntz"), (variant, dt)
    [row] = df.collect()
    assert row["o_orderdate"].replace(tzinfo=None) == _WALL, variant


def test_build_lock_serializes_racing_rebuilds(tmp_path):
    """io.build_lock is the guard that keeps two sessions on one sf_dir
    from rmtree-ing each other's in-flight /tmp cache build (ADVICE r6).
    Race N processes through the rebuild protocol (check marker → lock →
    re-check → rmtree+build+marker) and assert: the cache ends valid,
    every process observed a valid cache at exit, and the build ran at
    most N times with no torn state observed under the lock."""
    import multiprocessing as mp
    import os

    cache = str(tmp_path / "cache")
    marker = os.path.join(cache, "MARKER")
    fp = "generation-1"

    def worker(q):
        import shutil
        import time

        from sqlite_to_clickhouse_spark.io import build_lock

        def read():
            try:
                with open(marker) as fh:
                    return fh.read()
            except OSError:
                return None

        for _ in range(5):
            if read() != fp:
                with build_lock(cache):
                    if read() != fp:  # double-checked
                        shutil.rmtree(cache, ignore_errors=True)
                        os.makedirs(cache)
                        # a slow, torn-state-prone build
                        with open(os.path.join(cache, "data"), "w") as fh:
                            fh.write("part1")
                        time.sleep(0.05)
                        with open(os.path.join(cache, "data"), "a") as fh:
                            fh.write("part2")
                        with open(marker, "w") as fh:
                            fh.write(fp)
            # Outside the lock a reader may race a rebuild; under this
            # protocol rebuilds happen only for a WRONG marker, so with a
            # single generation every post-build observation must be whole.
            if read() == fp:
                with open(os.path.join(cache, "data")) as fh:
                    q.put(fh.read())

    ctx = mp.get_context("fork")
    q = ctx.Queue()
    procs = [ctx.Process(target=worker, args=(q,)) for _ in range(6)]
    for p in procs:
        p.start()
    for p in procs:
        p.join(timeout=60)
        assert p.exitcode == 0
    seen = []
    while not q.empty():
        seen.append(q.get())
    assert seen and all(v == "part1part2" for v in seen)
    with open(marker) as fh:
        assert fh.read() == fp


def test_ensure_generation_immutable_builds(tmp_path, monkeypatch):
    """io.ensure_generation (ADVICE r7): builds land in fresh immutable
    gen-* directories with an atomic CURRENT pointer — a rebuild (new
    fingerprint or force=True) NEVER deletes or rewrites the directory a
    concurrent reader may be mid-scan on; old generations are GC'd only
    past the age TTL."""
    import os

    import sqlite_to_clickhouse_spark.io as io_mod

    monkeypatch.setenv("TMPDIR", str(tmp_path))
    import tempfile

    tempfile.tempdir = None  # re-resolve from TMPDIR
    try:
        builds = []

        def build(tag):
            def _b(gen):
                builds.append(tag)
                with open(os.path.join(gen, "data"), "w") as fh:
                    fh.write(tag)
            return _b

        g1 = io_mod.ensure_generation("t", "key", "fpA", build("b1"))
        assert builds == ["b1"] and open(os.path.join(g1, "data")).read() == "b1"
        # Cached: same fp -> same dir, no rebuild.
        assert io_mod.ensure_generation("t", "key", "fpA", build("b2")) == g1
        assert builds == ["b1"]
        # Forced: NEW dir, CURRENT swings, the old generation's files are
        # untouched (a reader mid-scan on g1 is safe).
        g2 = io_mod.ensure_generation("t", "key", "fpA", build("b3"), force=True)
        assert g2 != g1 and builds == ["b1", "b3"]
        assert open(os.path.join(g1, "data")).read() == "b1"
        base = os.path.dirname(g1)
        assert io_mod.read_marker(os.path.join(base, "CURRENT")) == os.path.basename(g2)
        # New fingerprint: another new dir; both predecessors survive
        # (younger than the GC TTL).
        g3 = io_mod.ensure_generation("t", "key", "fpB", build("b4"))
        assert g3 not in (g1, g2) and builds == ["b1", "b3", "b4"]
        assert os.path.exists(g1) and os.path.exists(g2)
        # Aged-out generations are GC'd by the next build.
        old = os.path.join(base, "gen-deadbeefdeadbeef")
        os.makedirs(old, exist_ok=True)
        past = 10 * 3600
        st = os.stat(old)
        os.utime(old, (st.st_atime - past, st.st_mtime - past))
        g4 = io_mod.ensure_generation("t", "key", "fpC", build("b5"))
        assert not os.path.exists(old), "TTL-aged generation not GC'd"
        assert os.path.exists(g4)
        # Per-user scoping: the base path embeds the OS user.
        import getpass

        assert getpass.getuser() in os.path.basename(base)
    finally:
        tempfile.tempdir = None


def test_ensure_generation_serial_truncation_spares_live_gen(tmp_path, monkeypatch):
    """ADVICE r10: a crash-truncated SERIAL must never make a rebuild
    recycle a serial and rmtree a COMPLETED generation a reader may be
    scanning — completed gens (valid marker) are skipped, only
    markerless debris is reclaimed."""
    import os

    import sqlite_to_clickhouse_spark.io as io_mod

    monkeypatch.setenv("TMPDIR", str(tmp_path))
    import tempfile

    tempfile.tempdir = None
    try:
        def build(tag):
            def _b(gen):
                with open(os.path.join(gen, "data"), "w") as fh:
                    fh.write(tag)
            return _b

        g1 = io_mod.ensure_generation("t2", "key", "fpA", build("b1"))
        base = os.path.dirname(g1)
        # Crash left SERIAL truncated: the next forced build would
        # re-allocate serial 1, whose gen dir is g1 — it must skip to a
        # fresh serial, leaving g1's bytes intact.
        with open(os.path.join(base, "SERIAL"), "w") as fh:
            fh.write("")
        g2 = io_mod.ensure_generation("t2", "key", "fpA", build("b2"), force=True)
        assert g2 != g1
        assert open(os.path.join(g1, "data")).read() == "b1"
        assert open(os.path.join(g2, "data")).read() == "b2"
        # Markerless debris under a recycled serial IS reclaimed.
        with open(os.path.join(base, "SERIAL"), "w") as fh:
            fh.write("")
        os.remove(os.path.join(g1, io_mod.GEN_MARKER))  # g1 now debris
        g3 = io_mod.ensure_generation("t2", "key", "fpA", build("b3"), force=True)
        assert g3 == g1  # serial 1's dir reused after debris reclaim
        assert open(os.path.join(g3, "data")).read() == "b3"
    finally:
        tempfile.tempdir = None


def test_ensure_generation_repoints_to_completed_same_fp_gen(tmp_path, monkeypatch):
    """ADVICE r11: when the serial walk (force=False) collides with a
    LIVE completed generation whose marker equals this fingerprint — a
    crash rolled SERIAL back and lost CURRENT — that directory already
    IS the requested build, so CURRENT is re-pointed to it instead of
    rebuilding from scratch.  force=True must still rebuild fresh."""
    import os

    import sqlite_to_clickhouse_spark.io as io_mod

    monkeypatch.setenv("TMPDIR", str(tmp_path))
    import tempfile

    tempfile.tempdir = None
    try:
        def build(tag):
            def _b(gen):
                with open(os.path.join(gen, "data"), "w") as fh:
                    fh.write(tag)
            return _b

        def explode(gen):
            raise AssertionError("rebuild fired despite a valid same-fp gen")

        g1 = io_mod.ensure_generation("t3", "key", "fpA", build("b1"))
        base = os.path.dirname(g1)
        # Crash lost BOTH pointers: SERIAL truncated and CURRENT gone.
        with open(os.path.join(base, "SERIAL"), "w") as fh:
            fh.write("")
        os.remove(os.path.join(base, "CURRENT"))
        g2 = io_mod.ensure_generation("t3", "key", "fpA", explode)
        assert g2 == g1  # re-pointed, not rebuilt
        assert open(os.path.join(g1, "data")).read() == "b1"
        # and the fast path resolves again without entering the lock
        assert io_mod.ensure_generation("t3", "key", "fpA", explode) == g1
        # SERIAL advanced past the collision: a follow-up FORCED rebuild
        # allocates a fresh dir and leaves g1 intact.
        g3 = io_mod.ensure_generation("t3", "key", "fpA", build("b3"), force=True)
        assert g3 != g1
        assert open(os.path.join(g3, "data")).read() == "b3"
        assert open(os.path.join(g1, "data")).read() == "b1"
    finally:
        tempfile.tempdir = None


def test_ensure_generation_racing_builders(tmp_path, monkeypatch):
    """N processes race ensure_generation on one (kind, key, fp): the
    build must run exactly once, every process must resolve the SAME
    generation dir, and the built artifact must never be observed torn
    (the immutable-generation analog of
    test_build_lock_serializes_racing_rebuilds)."""
    import multiprocessing as mp
    import os

    monkeypatch.setenv("TMPDIR", str(tmp_path))

    def worker(q):
        import os
        import tempfile
        import time

        tempfile.tempdir = None  # re-resolve from TMPDIR in the child
        from sqlite_to_clickhouse_spark.io import ensure_generation

        def build(gen):
            # a slow, torn-state-prone build
            with open(os.path.join(gen, "data"), "w") as fh:
                fh.write("part1")
            time.sleep(0.05)
            with open(os.path.join(gen, "data"), "a") as fh:
                fh.write("part2")

        for _ in range(3):
            gen = ensure_generation("race", "key", "fp-1", build)
            with open(os.path.join(gen, "data")) as fh:
                q.put((gen, fh.read()))

    ctx = mp.get_context("fork")
    q = ctx.Queue()
    procs = [ctx.Process(target=worker, args=(q,)) for _ in range(6)]
    for p in procs:
        p.start()
    for p in procs:
        p.join(timeout=60)
        assert p.exitcode == 0
    seen = []
    while not q.empty():
        seen.append(q.get())
    assert len(seen) == 18
    gens = {g for g, _ in seen}
    assert len(gens) == 1, f"racing builders produced {len(gens)} generations"
    assert all(v == "part1part2" for _, v in seen), "torn build observed"
    # Exactly one build: the single generation dir holds the one artifact
    # and SERIAL advanced exactly once.
    from sqlite_to_clickhouse_spark.io import read_marker

    base = os.path.dirname(next(iter(gens)))
    assert read_marker(os.path.join(base, "SERIAL")) == "1"


def _last_job(spark) -> int:
    """Id of the newest finished-or-running job outside any job group."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return max(spark.sparkContext.statusTracker().getJobIdsForGroup() or [-1])


def test_parquet_schema_is_inferred_once_per_file_version(spark, tmp_path):
    """A re-read of an unchanged table skips the schema-inference job; a
    rewritten file at the same path is inferred afresh."""
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": pa.array([1, 2], pa.int64())}), path)
    io.read_parquet(spark, path)
    before = _last_job(spark)
    assert io.read_parquet(spark, path).columns == ["a"]
    assert _last_job(spark) == before
    pq.write_table(
        pa.table({"a": pa.array([1, 2, 3], pa.int64()), "b": pa.array(["x", "y", "z"])}),
        path,
    )
    df = io.read_parquet(spark, path)
    assert _last_job(spark) > before
    assert df.columns == ["a", "b"]
    assert df.count() == 3


def test_scope_releases_frames_and_dirs_of_the_outermost_scope_only(spark):
    """The lifetime rule of io.scope: a nested scope defers to the
    outermost one, a persist made on a run_jobs thread is released by the
    caller's scope, and with no scope open a persisted frame stays cached
    and a temp dir stays on disk."""

    def cached() -> set:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    def frame(n: int):
        # A distinct plan per frame, so no two share one cache entry.
        return spark.range(n).selectExpr("id * 2 AS v")

    before = cached()
    with io.scope():
        outer_dir = io.tempdir("scope_test_")
        with io.scope():
            inner = io.persist(frame(11))
            inner.count()
            inner_dir = io.tempdir("scope_test_")
        # The nested scope released nothing.
        assert len(cached() - before) == 1
        assert os.path.isdir(inner_dir)
        # Two thunks, so both run on pool threads.
        threaded, thread_dir = io.run_jobs(
            lambda: io.persist(frame(12)), lambda: io.tempdir("scope_test_")
        )
        threaded.count()
        assert len(cached() - before) == 2
    assert cached() - before == set()
    for d in (outer_dir, inner_dir, thread_dir):
        assert not os.path.exists(d)

    loose = io.persist(frame(13))
    loose.count()
    loose_dir = io.tempdir("scope_test_")
    try:
        assert len(cached() - before) == 1
        assert os.path.isdir(loose_dir)
    finally:
        loose.unpersist()
        os.rmdir(loose_dir)


def test_scope_keeps_every_registration_from_concurrent_threads(tmp_path, monkeypatch):
    """run_jobs threads register into one scope's release list at once; a
    lost registration would leave its temp dir behind."""
    import sys
    import tempfile

    monkeypatch.setenv("TMPDIR", str(tmp_path))
    monkeypatch.setattr(tempfile, "tempdir", None)  # re-resolve from TMPDIR
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with io.scope():
            made = io.run_jobs(
                *[lambda: [io.tempdir("race_") for _ in range(50)]] * 16
            )
            assert len(os.listdir(tmp_path)) == 16 * 50
    finally:
        sys.setswitchinterval(interval)
    assert sum(len(m) for m in made) == 16 * 50
    assert os.listdir(tmp_path) == []


def test_run_jobs_limit_bounds_threads_and_thunks_in_flight():
    """More thunks than the limit: never more than ``limit`` run at once,
    on no more than ``limit`` threads, and the results keep argument
    order.  Each thunk waits at a 3-party barrier, so a limit below 3
    breaks the barrier and one above 3 lets a fourth thunk in."""
    import sys
    import threading

    lock = threading.Lock()
    state = {"now": 0, "peak": 0}
    threads = set()
    barrier = threading.Barrier(3, timeout=10)

    def thunk(i: int):
        def run():
            with lock:
                state["now"] += 1
                state["peak"] = max(state["peak"], state["now"])
                threads.add(threading.get_ident())
            barrier.wait()
            with lock:
                state["now"] -= 1
            return i

        return run

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        assert io.run_jobs(*[thunk(i) for i in range(12)], limit=3) == list(range(12))
    finally:
        sys.setswitchinterval(interval)
    assert state["peak"] == 3
    assert len(threads) == 3


def test_run_jobs_failure_starts_no_further_thunk():
    """A failed thunk is re-raised once the thunks in flight finish; the
    ones still waiting for a thread never start."""
    import functools
    import threading

    started, finished = [], []
    gate = threading.Event()

    def slow():
        started.append("slow")
        gate.wait(5)
        finished.append("slow")

    def boom():
        started.append("boom")
        raise ValueError("boom")

    # `slow` holds one thread until `boom` has failed on the other.
    threading.Timer(0.2, gate.set).start()
    with pytest.raises(ValueError, match="boom"):
        io.run_jobs(slow, boom, *[functools.partial(started.append, i) for i in range(10)], limit=2)
    assert finished == ["slow"]
    assert set(started) == {"slow", "boom"}
