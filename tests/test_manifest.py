"""Manifest-snapshot protocol library (io.py, VERDICT r9 item 4).

The protocol under test: append-only data files + atomic JSON manifest
publish + CURRENT pointer; readers resolve manifests, never directory
listings.  The crash-injection cases pin the exact property the r8/r9
marker-file protocol could not give: a crash between data write and
publish leaves the new files INVISIBLE (old snapshot still reads
exactly), and a retry commits only its own files — no double-append.
"""

from __future__ import annotations

import os
import shutil

import pytest

from sqlite_to_clickhouse_spark import io as gio


def _touch(root: str, rel: str) -> str:
    p = os.path.join(root, rel)
    os.makedirs(os.path.dirname(p), exist_ok=True)
    with open(p, "w") as fh:
        fh.write("x")
    return rel


def test_commit_read_roundtrip(tmp_path):
    root = str(tmp_path)
    f1 = _touch(root, "tokens/part-a.parquet")
    v1 = gio.manifest_commit(root, {"tokens": [f1]}, meta={"epoch": 0})
    assert gio.manifest_current(root) == v1
    m = gio.manifest_read(root)
    assert m["relations"]["tokens"] == [f1]
    assert m["meta"] == {"epoch": 0}
    assert gio.manifest_versions(root) == [v1]
    # absolute resolution
    assert gio.manifest_relation_files(root, "tokens") == [os.path.join(root, f1)]
    # unwritten relation -> [], no-manifest store -> None
    assert gio.manifest_relation_files(root, "tombstones") == []
    assert gio.manifest_relation_files(str(tmp_path / "nowhere"), "x") is None


def test_commits_are_ordered_and_current_swings(tmp_path):
    root = str(tmp_path)
    f1 = _touch(root, "r/a.parquet")
    f2 = _touch(root, "r/b.parquet")
    v1 = gio.manifest_commit(root, {"r": [f1]})
    v2 = gio.manifest_commit(root, {"r": [f1, f2]})
    assert gio.manifest_versions(root) == [v1, v2]
    assert gio.manifest_current(root) == v2
    # time travel: the old snapshot still reads exactly as committed
    assert gio.manifest_relation_files(root, "r", version=v1) == [
        os.path.join(root, f1)
    ]


def test_append_diff_commits_only_new_files(tmp_path):
    root = str(tmp_path)
    f1 = _touch(root, "r/a.parquet")
    gio.manifest_commit(root, {"r": [f1]})
    with gio.manifest_append(root, ["r", "tomb"]):
        f2 = _touch(root, "r/b.parquet")
        t1 = _touch(root, "tomb/t0.parquet")
    m = gio.manifest_read(root)
    assert m["relations"]["r"] == sorted([f1, f2])
    assert m["relations"]["tomb"] == [t1]


def test_crash_before_publish_is_invisible_and_retry_safe(tmp_path):
    """Kill the writer between data write and manifest publish: the
    reader sees the OLD snapshot; the retry commits only its own files,
    so the crashed attempt's orphans are never double-counted."""
    root = str(tmp_path)
    f1 = _touch(root, "r/a.parquet")
    v1 = gio.manifest_commit(root, {"r": [f1]})

    class Boom(RuntimeError):
        pass

    with pytest.raises(Boom):
        with gio.manifest_append(root, ["r"]):
            _touch(root, "r/crashed-attempt.parquet")
            raise Boom()  # crash after data write, before publish

    # Old snapshot unchanged; orphan invisible.
    assert gio.manifest_current(root) == v1
    assert gio.manifest_read(root)["relations"]["r"] == [f1]

    # Retry (fresh attempt, fresh file names — Spark part files are
    # UUID-unique per write) commits ONLY its own files.
    with gio.manifest_append(root, ["r"], meta={"epoch": 7}):
        f2 = _touch(root, "r/retry.parquet")
    rels = gio.manifest_read(root)["relations"]["r"]
    assert rels == sorted([f1, f2])
    assert "r/crashed-attempt.parquet" not in rels
    assert gio.manifest_applied_meta(root, "epoch") == {7}


def test_orphan_version_epoch_not_applied(tmp_path):
    """ADVICE r10 (medium): a crash BETWEEN the version-file rename and
    the CURRENT swing leaves a published-but-invisible orphan.  Its
    epoch must NOT count as applied — otherwise the foreachBatch retry
    skips its re-append and the micro-batch is silently lost."""
    root = str(tmp_path)
    f1 = _touch(root, "r/a.parquet")
    f2 = _touch(root, "r/b.parquet")
    v1 = gio.manifest_commit(root, {"r": [f1]}, meta={"epoch": 1})
    v2 = gio.manifest_commit(root, {"r": [f1, f2]}, meta={"epoch": 2})
    # Simulate the crash: v2.json exists but CURRENT never swung.
    gio.write_atomic(
        os.path.join(root, gio.MANIFEST_DIRNAME, "CURRENT"), v1
    )
    assert gio.manifest_applied_meta(root, "epoch") == {1}
    # The retry re-appends fresh data and commits a LATER version; the
    # epoch is now applied exactly once and the data visible.
    with gio.manifest_append(root, ["r"], meta={"epoch": 2}):
        f3 = _touch(root, "r/b-retry.parquet")
    assert gio.manifest_applied_meta(root, "epoch") == {1, 2}
    got = gio.manifest_read(root)["relations"]["r"]
    assert got == sorted([f1, f3])  # orphan f2 never committed
    # And even after CURRENT advances PAST the orphan version, the
    # orphan's meta stays un-applied (the chain folds only the visible
    # lineage, never version files newer than the CURRENT they preceded).
    assert v2 not in (gio.manifest_current(root),)


def test_no_current_means_nothing_applied(tmp_path):
    """A store whose CURRENT is missing (first publish crashed between
    the two renames) has NO visible snapshot: nothing is applied."""
    root = str(tmp_path)
    f1 = _touch(root, "r/a.parquet")
    gio.manifest_commit(root, {"r": [f1]}, meta={"epoch": 5})
    os.remove(os.path.join(root, gio.MANIFEST_DIRNAME, "CURRENT"))
    assert gio.manifest_applied_meta(root, "epoch") == set()


def test_serial_truncation_never_overwrites_history(tmp_path):
    """ADVICE r10: SERIAL publishes via tmp+replace, and a truncated /
    missing SERIAL recovers as max(existing versions)+1 instead of
    re-allocating a low number and silently overwriting a committed
    manifest."""
    root = str(tmp_path)
    f1 = _touch(root, "r/a.parquet")
    f2 = _touch(root, "r/b.parquet")
    v1 = gio.manifest_commit(root, {"r": [f1]})
    v2 = gio.manifest_commit(root, {"r": [f1, f2]})
    # Crash left SERIAL truncated:
    with open(os.path.join(root, gio.MANIFEST_DIRNAME, "SERIAL"), "w") as fh:
        fh.write("")
    v3 = gio.manifest_commit(root, {"r": [f2]})
    assert gio.manifest_versions(root) == [v1, v2, v3]
    assert v3 == "v000003"
    # v1's history is intact — time travel still reads it exactly.
    assert gio.manifest_relation_files(root, "r", version=v1) == [
        os.path.join(root, f1)
    ]


def test_applied_chain_survives_expire(tmp_path):
    """The cumulative chain rides CURRENT, so expiring old manifests no
    longer forgets their applied epochs (pre-r11 the scan over version
    files did)."""
    root = str(tmp_path)
    f1 = _touch(root, "r/a.parquet")
    gio.manifest_commit(root, {"r": [f1]}, meta={"epoch": 1})
    gio.manifest_commit(root, {"r": [f1]}, meta={"epoch": 2})
    v3 = gio.manifest_commit(root, {"r": [f1]}, meta={"epoch": 3})
    gio.manifest_expire(root, keep=[])  # keeps only CURRENT (v3)
    assert gio.manifest_versions(root) == [v3]
    assert gio.manifest_applied_meta(root, "epoch") == {1, 2, 3}


def test_manifest_without_chain_fails_loudly(tmp_path):
    """Every commit writes the cumulative ``applied`` chain.  A CURRENT
    manifest without it was not written by this protocol: reading or
    extending its chain raises instead of reporting nothing applied (a
    retried writer would otherwise re-append an applied epoch)."""
    import json

    root = str(tmp_path)
    f1 = _touch(root, "r/a.parquet")
    mdir = os.path.join(root, gio.MANIFEST_DIRNAME)
    os.makedirs(mdir)
    with open(os.path.join(mdir, "v000001.json"), "w") as fh:
        json.dump({"version": "v000001", "relations": {"r": [f1]}, "meta": {"epoch": 10}}, fh)
    gio.write_atomic(os.path.join(mdir, "CURRENT"), "v000001")
    with pytest.raises(KeyError):
        gio.manifest_applied_meta(root, "epoch")
    with pytest.raises(KeyError):
        gio.manifest_applied_chain(root)
    with pytest.raises(KeyError):
        gio.manifest_commit(root, {"r": [f1]}, meta={"epoch": 11})
    assert gio.manifest_current(root) == "v000001"


def test_applied_chain_retention_bounds_manifest_growth(tmp_path, monkeypatch):
    """The chain would otherwise grow one epoch per micro-batch forever
    (each commit rewrites it whole).  Retention keeps the N LARGEST
    values — a retry is always at the recent end, so recent idempotence
    survives while the manifest stays bounded."""
    monkeypatch.setattr(gio, "MANIFEST_APPLIED_RETAIN", 3)
    root = str(tmp_path)
    f1 = _touch(root, "r/a.parquet")
    for epoch in range(6):
        gio.manifest_commit(root, {"r": [f1]}, meta={"epoch": epoch})
    # Only the 3 largest retained; a recent retry is still skipped, an
    # ancient value has aged out of the idempotence horizon by design.
    assert gio.manifest_applied_meta(root, "epoch") == {3, 4, 5}
    m = gio.manifest_read(root)
    assert len(m["applied"]["epoch"]) == 3


def test_corrupt_current_manifest_fails_loudly(tmp_path):
    """CURRENT naming an unreadable manifest is corruption, not an empty
    store: a lenient read here would make the next commit's merge base
    {} (silently dropping every committed file and forgetting every
    applied epoch) and make readers serve an empty index."""
    root = str(tmp_path)
    f1 = _touch(root, "r/a.parquet")
    v1 = gio.manifest_commit(root, {"r": [f1]}, meta={"epoch": 1})
    mpath = os.path.join(root, gio.MANIFEST_DIRNAME, f"{v1}.json")
    with open(mpath, "w") as fh:
        fh.write("{truncated")
    with pytest.raises(RuntimeError, match="corrupt or unreadable"):
        gio.manifest_read(root)
    with pytest.raises(RuntimeError):
        gio.manifest_applied_meta(root, "epoch")
    with pytest.raises(RuntimeError):
        gio.manifest_commit(root, {"r": [f1]}, meta={"epoch": 2})
    # Explicit-version reads stay lenient: an expired manifest is a
    # legitimate time-travel miss, not corruption.
    assert gio.manifest_read(root, "v999999") is None


def test_applied_chain_carries_through_compaction(tmp_path):
    """A compacted store is a FRESH root with a fresh manifest — without
    inheritance its applied chain starts empty, and a stream swapped
    onto it would re-append an already-ingested epoch on retry.
    ``applied_seed`` (wired in minhash/ANN/ER compaction) carries the
    source's chain into the new store's first commit."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    f1 = _touch(src, "r/a.parquet")
    gio.manifest_commit(src, {"r": [f1]}, meta={"epoch": 1})
    gio.manifest_commit(src, {"r": [f1]}, meta={"epoch": 2})
    dst = str(tmp_path / "compacted")
    os.makedirs(dst)
    g1 = _touch(dst, "r/compact-a.parquet")
    gio.manifest_commit(
        dst, {"r": [g1]}, applied_seed=gio.manifest_applied_chain(src)
    )
    assert gio.manifest_applied_meta(dst, "epoch") == {1, 2}
    # The retried epoch is skipped on the NEW store; a genuinely new
    # epoch still folds in on top of the inherited chain.
    with gio.manifest_append(dst, ["r"], meta={"epoch": 3}):
        _touch(dst, "r/ep3.parquet")
    assert gio.manifest_applied_meta(dst, "epoch") == {1, 2, 3}
    # Seeding an empty source is a no-op, not an error.
    empty = str(tmp_path / "empty")
    assert gio.manifest_applied_chain(empty) == {}


def test_append_replace_rewrites_relation(tmp_path):
    """``replace`` relations commit as ONLY the body's fresh files — the
    in-commit rewrite er_index_append uses to un-tombstone re-arrived
    names atomically with its appends."""
    root = str(tmp_path)
    f1 = _touch(root, "r/a.parquet")
    t1 = _touch(root, "tomb/t0.parquet")
    gio.manifest_commit(root, {"r": [f1], "tomb": [t1]})
    with gio.manifest_append(root, ["r"], replace=["tomb"]):
        f2 = _touch(root, "r/b.parquet")
        t2 = _touch(root, "tomb/t1.parquet")
    m = gio.manifest_read(root)["relations"]
    assert m["r"] == sorted([f1, f2])  # append semantics
    assert m["tomb"] == [t2]  # replace semantics: t1 dropped
    # t1 stays on disk for the OLD version's time travel.
    assert os.path.exists(os.path.join(root, t1))


def test_exclusive_append_serializes_racing_writers(tmp_path):
    """Multi-writer stores opt into ``exclusive=True``: N processes
    appending concurrently must land N clean commits — no writer ever
    commits another's in-flight files (the default diff protocol's
    documented hazard), no version collides, every file appears exactly
    once in the final snapshot."""
    import multiprocessing as mp

    root = str(tmp_path)
    f0 = _touch(root, "r/seed.parquet")
    gio.manifest_commit(root, {"r": [f0]})

    def writer(i: int) -> None:
        import time

        from sqlite_to_clickhouse_spark import io as g

        with g.manifest_append(root, ["r"], meta={"epoch": i}, exclusive=True):
            # Stretch the body so racing writers genuinely overlap the
            # window the lock must protect.
            p = os.path.join(root, "r", f"w{i}.parquet")
            with open(p, "w") as fh:
                fh.write("x")
            time.sleep(0.2)

    procs = [mp.Process(target=writer, args=(i,)) for i in range(4)]
    for p in procs:
        p.start()
    for p in procs:
        p.join()
        assert p.exitcode == 0
    final = gio.manifest_read(root)["relations"]["r"]
    assert final == sorted([f0] + [f"r/w{i}.parquet" for i in range(4)])
    assert gio.manifest_applied_meta(root, "epoch") == {0, 1, 2, 3}
    # 1 seed + 4 appends, no version overwritten or skipped
    assert len(gio.manifest_versions(root)) == 5
    # Each intermediate version is a clean superset chain: every commit
    # included the files of the snapshot it extended (nobody committed a
    # peer's in-flight file mid-write: file sets grow by exactly one).
    sizes = sorted(
        len(gio.manifest_read(root, v)["relations"]["r"])
        for v in gio.manifest_versions(root)
    )
    assert sizes == [1, 2, 3, 4, 5]


def test_expire_and_live_files(tmp_path):
    root = str(tmp_path)
    f1 = _touch(root, "data/a.parquet")
    f2 = _touch(root, "data/b.parquet")
    v1 = gio.manifest_commit(root, {"data": [f1]})
    v2 = gio.manifest_commit(root, {"data": [f1, f2]})
    v3 = gio.manifest_commit(root, {"data": [f2]})
    assert gio.manifest_live_files(root) == {f1, f2}
    expired = gio.manifest_expire(root, keep=[v3])
    assert sorted(expired) == sorted([v1, v2])
    assert gio.manifest_versions(root) == [v3]
    # post-expire live set: only v3's files; f1 is now vacuum-able
    assert gio.manifest_live_files(root) == {f2}
    # CURRENT is never expirable
    assert gio.manifest_expire(root, keep=[]) == []
    assert gio.manifest_current(root) == v3


def test_absolute_paths_resolve_verbatim(tmp_path):
    """Cross-store file sharing (sink_shallow_clone): a manifest may
    list ABSOLUTE paths (object-store URI shape); they resolve verbatim
    instead of joining onto the store root."""
    data_root = tmp_path / "shared"
    data_root.mkdir()
    f = str(data_root / "x.parquet")
    open(f, "w").write("x")
    store = str(tmp_path / "tbl")
    gio.manifest_commit(store, {"data": [f]})
    assert gio.manifest_relation_files(store, "data") == [f]


def test_clone_remains_valid_store(tmp_path):
    """Relative manifest paths: a copytree clone of the whole store is a
    valid store at its new root (how streaming ops snapshot the shared
    cached index)."""
    root = str(tmp_path / "src")
    os.makedirs(root)
    f1 = _touch(root, "r/a.parquet")
    gio.manifest_commit(root, {"r": [f1]})
    clone = str(tmp_path / "clone")
    shutil.copytree(root, clone)
    assert gio.manifest_relation_files(clone, "r") == [os.path.join(clone, f1)]


@pytest.mark.mutant_keycol  # per-family store battery: rides the fourth suite command
def test_minhash_append_crash_invisible_then_retry_exact(spark, sf_dir, tmp_path):
    """Index-level crash injection (VERDICT r9 item 4's done criterion):
    kill a minhash_index_append between its data writes and the manifest
    publish — lookups must equal the pre-append index exactly; a retry
    must then equal exactly ONE append (the crashed attempt's files never
    double-count)."""
    from sqlite_to_clickhouse_spark.io import table as t
    from sqlite_to_clickhouse_spark.operators import dedup as D

    docs = t(spark, sf_dir, "documents")
    corpus = D._doc_tokens(docs.filter(~D._incr_batch_pred()))
    batch = D._doc_tokens(docs.filter(D._incr_batch_pred()))
    idx = str(tmp_path / "idx")
    D.minhash_index_build(corpus, "doc_id", "tk", idx)

    def lookup():
        return sorted(
            tuple(r)
            for r in D.minhash_index_dedup(spark, batch, "doc_id", "tk", idx)
            .collect()
        )

    before = lookup()

    class Boom(RuntimeError):
        pass

    orig = gio.manifest_commit

    def exploding(*a, **k):
        raise Boom()

    gio.manifest_commit = exploding
    try:
        with pytest.raises(Boom):
            D.minhash_index_append(batch, "doc_id", "tk", idx)
    finally:
        gio.manifest_commit = orig

    # Crash left orphans on disk but the committed snapshot unchanged:
    assert lookup() == before

    # Retry succeeds; the index now equals exactly one append — compare
    # relation-by-relation against a fresh build + single clean append.
    D.minhash_index_append(batch, "doc_id", "tk", idx)
    ref = str(tmp_path / "ref")
    D.minhash_index_build(corpus, "doc_id", "tk", ref)
    D.minhash_index_append(batch, "doc_id", "tk", ref)

    def rel_rows(path, rel, schema, partitioned=False):
        df = gio.read_relation(spark, path, rel, schema, partitioned=partitioned)
        return sorted(map(tuple, df.collect())) if df is not None else []

    for rel, schema, part in (
        ("bands", D._IDX_BANDS_SCHEMA, True),
        ("tokens", D._IDX_TOKENS_SCHEMA, False),
        ("sets", D._IDX_SETS_SCHEMA, False),
    ):
        assert rel_rows(idx, rel, schema, part) == rel_rows(ref, rel, schema, part), rel


def test_read_relation_resolves_manifest_not_listing(spark, tmp_path):
    root = str(tmp_path)
    df = spark.range(5).selectExpr("id", "id % 2 AS pb")
    df.write.partitionBy("pb").parquet(os.path.join(root, "bands"))
    committed = gio.relation_data_files(root, "bands")
    assert committed and all(p.startswith("bands/pb=") for p in committed)
    gio.manifest_commit(root, {"bands": committed})
    # Extra uncommitted file on disk must be invisible to the reader.
    df.limit(1).write.mode("append").parquet(os.path.join(root, "bands", "pb=0"))
    got = gio.read_relation(spark, root, "bands", partitioned=True)
    assert got.count() == 5
    # partition column survives the explicit file-list read
    assert set(got.columns) == {"id", "pb"}
    # empty / absent relations
    assert gio.read_relation(spark, root, "tombstones") is None


def test_applied_retention_orders_string_epochs_numerically(tmp_path, monkeypatch):
    """ADVICE r11: str-sorted retention would keep '999' and evict
    '1000' — exactly the recent epoch retry-idempotence protects.  The
    window must order digit-clean strings (and mixed int/str chains)
    numerically; genuinely non-numeric values trail deterministically."""
    monkeypatch.setattr(gio, "MANIFEST_APPLIED_RETAIN", 3)
    root = str(tmp_path)
    f1 = _touch(root, "r/a.parquet")
    for epoch in ("998", "999", "1000", "1001"):  # lexicographic trap
        gio.manifest_commit(root, {"r": [f1]}, meta={"epoch": epoch})
    assert gio.manifest_applied_meta(root, "epoch") == {"999", "1000", "1001"}
    # mixed int/str epochs (a writer upgraded mid-stream) trim sanely too
    for epoch in (1002, 1003):
        gio.manifest_commit(root, {"r": [f1]}, meta={"epoch": epoch})
    assert gio.manifest_applied_meta(root, "epoch") == {"1001", 1002, 1003}
    # pure-function check: non-numeric strings order after numerics,
    # deterministically, instead of raising
    monkeypatch.setattr(gio, "MANIFEST_APPLIED_RETAIN", 10)
    out = gio._retain_applied({"abc", 5, "7", 6.5})
    assert set(out) == {"abc", 5, "7", 6.5}
    monkeypatch.setattr(gio, "MANIFEST_APPLIED_RETAIN", 2)
    assert set(gio._retain_applied({"abc", 5, "7", 6.5})) == {"7", "abc"}


def test_version_ordering_is_numeric_past_the_pad(tmp_path, monkeypatch):
    """ADVICE r11: past serial 999999 the 6-digit pad stops protecting
    lexicographic order (v1000000 < v999999 as strings), inverting time
    travel and GC's notion of 'latest'.  Pin numeric
    ordering end-to-end by committing across the pad boundary."""
    root = str(tmp_path)
    f1 = _touch(root, "r/a.parquet")
    mdir = os.path.join(root, gio.MANIFEST_DIRNAME)
    os.makedirs(mdir, exist_ok=True)
    gio.write_atomic(os.path.join(mdir, "SERIAL"), "999999")
    v1 = gio.manifest_commit(root, {"r": [f1]}, meta={"epoch": 1})
    v2 = gio.manifest_commit(root, {"r": [f1]}, meta={"epoch": 2})
    assert (v1, v2) == ("v1000000", "v1000001")
    assert gio.manifest_versions(root) == [v1, v2]  # oldest first, numerically
    assert gio._version_serial("v1000000") > gio._version_serial("v999999")


def test_applied_retention_deterministic_under_nan(monkeypatch):
    """Review r12: float('nan') (or the string 'nan') as a sort key
    poisons ordering — NaN comparisons are all False, leaving eviction
    in hash-seed-dependent set order.  Non-finite values must route to
    the deterministic lexicographic tier."""
    monkeypatch.setattr(gio, "MANIFEST_APPLIED_RETAIN", 3)
    vals = {1, 2, 3, float("nan"), "nan"}
    outs = {tuple(gio._retain_applied(set(vals))) for _ in range(20)}
    assert len(outs) == 1  # deterministic under any hash seed
    kept = outs.pop()
    # Non-numeric values sort AFTER numerics (recency unknowable —
    # conservatively treated as recent, so a possibly-live retry key is
    # never evicted in favor of an old numeric epoch); the newest
    # numeric epoch must still survive.
    assert 3 in set(kept)
    assert len(kept) == 3
