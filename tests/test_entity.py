"""Entity-resolution family: properties the differential gate can't see
— the df-cap stop-key guard, cluster/edge consistency, survivorship
conservation, and the sequence-cap truncation in events_sequence_match."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Row

from sqlite_to_clickhouse_spark.operators.entity import (
    _ER_BLOCK_DF_CAP,
    _ER_MAXDIST,
    blocked_name_pairs,
    er_blocked_pairs,
    er_clusters,
    er_golden_record,
)


def test_df_cap_drops_hot_blocking_key(spark):
    """A blocking key shared by more than _ER_BLOCK_DF_CAP distinct names
    must be dropped BEFORE the candidate self-join (the O(df²) stop-key
    guard). Names that only share the hot key produce no pair; names
    sharing a rare key still match."""
    hot = [Row(nm=f"ltd name{i:03d}", n_parts=1) for i in range(_ER_BLOCK_DF_CAP + 5)]
    # Two names sharing the RARE key "anvil", within edit distance:
    rare = [Row(nm="anvil cold", n_parts=1), Row(nm="anvil old", n_parts=1)]
    names = spark.createDataFrame(hot + rare)
    got = {
        (r.name_a, r.name_b)
        for r in blocked_name_pairs(names).collect()
    }
    assert ("anvil cold", "anvil old") in got
    # "ltd name000"/"ltd name001" are within distance 1 but share ONLY the
    # capped key ("ltd" df=35 > cap; "nameNNN" unique) — must NOT pair.
    assert all("ltd" not in a for a, _ in got), got


def test_blocked_pairs_canonical_order_and_threshold(spark, sf_dir):
    rows = er_blocked_pairs(spark, sf_dir).collect()
    assert rows, "fixture should produce fuzzy name pairs"
    for r in rows:
        assert r.name_a < r.name_b
        assert 1 <= r.edit_dist <= _ER_MAXDIST
        assert r.n_parts_a >= 1 and r.n_parts_b >= 1


def test_clusters_consistent_with_pairs(spark, sf_dir):
    """Every verified pair must land in the same entity; the canonical
    name is the lexicographic min of its cluster; every distinct p_name
    appears exactly once."""
    pairs = er_blocked_pairs(spark, sf_dir).collect()
    clusters = er_clusters(spark, sf_dir).collect()
    eid = {r.name: r.entity_id for r in clusters}
    for p in pairs:
        assert eid[p.name_a] == eid[p.name_b], (p.name_a, p.name_b)
    by_entity: dict = {}
    for r in clusters:
        by_entity.setdefault(r.entity_id, []).append(r.name)
    for e, members in by_entity.items():
        assert e == min(members)
    names = [r.name for r in clusters]
    assert len(names) == len(set(names))
    # canonical flag agrees with the id
    for r in clusters:
        assert r.is_canonical == (r.name == r.entity_id)


def test_golden_record_conserves_rows(spark, sf_dir):
    from sqlite_to_clickhouse_spark.io import table

    total_parts = table(spark, sf_dir, "part").count()
    golden = er_golden_record(spark, sf_dir).collect()
    assert sum(r.n_parts for r in golden) == total_parts
    for r in golden:
        assert r.n_variants >= 1
        assert r.min_price <= r.max_price
        assert r.modal_brand is not None
    # entity ids unique
    ids = [r.entity_id for r in golden]
    assert len(ids) == len(set(ids))


def test_sequence_cap_truncates(spark, tmp_path):
    """events_sequence_match hard-caps each user's sequence at _SEQ_CAP
    codes (mirrored in the oracle). A user whose only purchase sits
    BEYOND the cap must not match, and n_events still reports the true
    history length. The fixture never exceeds the cap (~67 events/user),
    so this is the only place the truncation semantics are pinned."""
    from sqlite_to_clickhouse_spark.operators.eventsops import (
        _SEQ_CAP,
        events_sequence_match,
    )

    base = dt.datetime(2024, 1, 1)
    rows = [
        Row(
            event_id=i,
            ts=base + dt.timedelta(seconds=i),
            user_id=1,
            event_type="signup" if i == 0 else "view",
            value=0.0,
            props="{}",
        )
        for i in range(_SEQ_CAP)
    ]
    # The lone purchase lands at position _SEQ_CAP + 1 — beyond the cap.
    rows.append(
        Row(
            event_id=_SEQ_CAP,
            ts=base + dt.timedelta(seconds=_SEQ_CAP),
            user_id=1,
            event_type="purchase",
            value=0.0,
            props="{}",
        )
    )
    sf = str(tmp_path / "sf")
    spark.createDataFrame(rows).write.parquet(f"{sf}/events.parquet")
    out = {r.user_id: r for r in events_sequence_match(spark, sf).collect()}
    r = out[1]
    assert r.n_events == _SEQ_CAP + 1  # true length, not capped
    assert r.matched_svp == 0  # purchase beyond the cap is invisible
    assert r.matched_sv_adjacent == 1
    assert r.n_view_to_purchase == 0


def test_source_overlap_bounds(spark, sf_dir):
    from sqlite_to_clickhouse_spark.operators.text import text_source_overlap

    rows = text_source_overlap(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.source_a < r.source_b
        assert 0 < r.n_common <= min(r.n_tokens_a, r.n_tokens_b)
        assert 0.0 < r.jaccard <= 1.0
    keys = [(r.source_a, r.source_b) for r in rows]
    assert len(keys) == len(set(keys))


def test_incremental_match_consistency(spark, sf_dir):
    """Serving-path invariants: an exact re-arrival matches itself at
    distance 0; every matched batch name lands on its match's catalog
    entity; unmatched names become their own entity."""
    from sqlite_to_clickhouse_spark.operators.entity import er_incremental_match

    rows = er_incremental_match(spark, sf_dir).collect()
    assert rows
    for r in rows:
        if r.matched_name is None:
            assert r.edit_dist is None
            assert r.entity_id == r.name
        else:
            assert 0 <= r.edit_dist <= 2
            if r.matched_name == r.name:
                assert r.edit_dist == 0
    # The fixture's 10% batch split re-arrives known names: expect at
    # least one exact (distance-0) match.
    assert any(r.edit_dist == 0 for r in rows if r.edit_dist is not None)


def test_golden_incremental_merge_algebra(spark, sf_dir):
    """The merge must conserve rows across catalog+batch and agree with
    er_golden_record wherever the batch introduced no new clustering
    (the fixture's batch re-arrives known names, so the frozen-catalog
    mapping and the full re-cluster coincide on entity totals)."""
    from sqlite_to_clickhouse_spark.io import table
    from sqlite_to_clickhouse_spark.operators.entity import (
        er_golden_record_incremental,
    )

    total_parts = table(spark, sf_dir, "part").count()
    rows = er_golden_record_incremental(spark, sf_dir).collect()
    assert sum(r.n_parts for r in rows) == total_parts
    ids = [r.entity_id for r in rows]
    assert len(ids) == len(set(ids))
    for r in rows:
        assert r.min_price <= r.max_price
        assert r.n_variants >= 1


def _persisted_rdds(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


@pytest.mark.parametrize("op", ["append", "delete", "build-ok", "build-failed"])
def test_failed_index_write_releases_persisted_frames(spark, tmp_path, monkeypatch, op):
    """A write that dies inside the manifest commit must not leak the
    MEMORY_AND_DISK frames the index op persisted (the live entity view,
    the batch words and new edges, the delete set, the build's words and
    pairs); a build that lands must not leak them either.  The store
    keeps its pre-op snapshot either way; only block lifetimes are under
    test.  Compared as RDD-id sets, so an unrelated frame the context
    cleaner drops meanwhile cannot mask a leak."""
    from sqlite_to_clickhouse_spark import io as gio
    from sqlite_to_clickhouse_spark.operators import entity as E

    def names(ns):
        return spark.createDataFrame([(n,) for n in ns], "nm string")

    catalog = names(["aaaa pp", "aabb pp", "bbbb pp", "zzzz qq"])
    idx = str(tmp_path / "idx")
    if not op.startswith("build"):
        E.er_index_build(catalog, idx)
    before = _persisted_rdds(spark)

    def fail(*jobs):
        raise RuntimeError("injected write failure")

    if op != "build-ok":
        monkeypatch.setattr(gio, "run_jobs", fail)
    try:
        if op == "append":
            E.er_index_append(spark, names(["aaab pp", "zzzy qq"]), idx)
        elif op == "delete":
            E.er_index_delete(spark, names(["aabb pp"]), idx)
        else:
            E.er_index_build(catalog, idx)
    except RuntimeError as exc:
        assert op != "build-ok" and "injected write failure" in str(exc)
    else:
        assert op == "build-ok"
    after = _persisted_rdds(spark)
    assert after - before == set()
    assert len(after) <= len(before)


@pytest.mark.parametrize("fails", [False, True], ids=["ok", "failed"])
@pytest.mark.parametrize("op", ["build", "append"])
def test_minhash_index_write_releases_persisted_frames(spark, tmp_path, monkeypatch, op, fails):
    """The MinHash build and a direct append release the frames they
    persist (the set clusters and memberships, the matched/fresh split),
    whether the write lands or dies inside the manifest commit."""
    from sqlite_to_clickhouse_spark import io as gio
    from sqlite_to_clickhouse_spark.operators import dedup as D

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id long, tk array<string>")

    a, b = ["a", "x", "y"], ["b", "p"]
    corpus = docs([(0, a), (1, a), (2, b)])
    idx = str(tmp_path / "idx")
    if op == "append":
        D.minhash_index_build(corpus, "doc_id", "tk", idx)
    before = _persisted_rdds(spark)

    def fail(*args, **kwargs):
        raise RuntimeError("injected write failure")

    if fails:
        # After the data writes, so the persisted frames are materialized.
        monkeypatch.setattr(gio, "manifest_commit", fail)
    try:
        if op == "build":
            D.minhash_index_build(corpus, "doc_id", "tk", idx)
        else:
            D.minhash_index_append(docs([(10, a), (11, ["d", "z"])]), "doc_id", "tk", idx)
    except RuntimeError as exc:
        assert fails and "injected write failure" in str(exc)
    else:
        assert not fails
    after = _persisted_rdds(spark)
    assert after - before == set()
    assert len(after) <= len(before)


def test_minhash_lookup_then_append_releases_batch_frame(spark, tmp_path):
    """A consumed lookup followed by an append of the same batch leaves no
    cached frame: the lookup keeps one batch frame cached, the append
    builds the same plan, reads that copy and releases it."""
    from sqlite_to_clickhouse_spark.operators import dedup as D

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id long, tk array<string>")

    a, b = ["a", "x", "y"], ["b", "p"]
    idx = str(tmp_path / "idx")
    D.minhash_index_build(docs([(0, a), (1, a), (2, b)]), "doc_id", "tk", idx)
    batch = docs([(10, a), (11, ["d", "z"]), (12, ["d", "z"]), (13, [])])
    before = _persisted_rdds(spark)
    D.minhash_index_dedup(spark, batch, "doc_id", "tk", idx).collect()
    assert len(_persisted_rdds(spark) - before) == 1
    D.minhash_index_append(batch, "doc_id", "tk", idx)
    after = _persisted_rdds(spark)
    assert after - before == set()
