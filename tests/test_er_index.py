"""Persisted ER catalog index: property pins (VERDICT r9 items 2-3).

The lifecycle theorems the registered differential gates can't state
directly:

- append-twice ≡ append-once (two disjoint batches folded sequentially
  equal the union folded once — the minhash_index_append property,
  restated for string-name entities with MERGE semantics);
- delete-then-read ≡ rebuild-without-deleted under stored-edge
  semantics (exact whenever no blocking key crosses the df cap, which
  the test asserts as a precondition instead of assuming);
- the BRIDGE-SPLIT theorem the dedup index structurally cannot have:
  deleting the sole name connecting two subgroups must split the
  cluster (and deleting a canonical must re-elect) — pinned on a
  deterministic synthetic;
- crash injection: an append that dies between its data writes and the
  manifest publish is invisible, and the retry lands exactly once.
"""

from __future__ import annotations

import pytest

from sqlite_to_clickhouse_spark import io as gio
from sqlite_to_clickhouse_spark.operators import entity as E
from pyspark.sql import functions as F

# Fourth suite command (VERDICT r10 item 4): the whole per-family ER
# store battery rides the keycol group's runtime headroom — group 1 hit
# 10:58 against its 10-minute window when this module grew in r11.
pytestmark = pytest.mark.mutant_keycol


def _names_df(spark, names):
    return spark.createDataFrame([(n,) for n in names], "nm string")


def _view(spark, path):
    return sorted(
        tuple(r) for r in E.er_index_entities(spark, path).collect()
    )


def _match(spark, path, names):
    return sorted(
        tuple(r)
        for r in E.er_index_match(spark, _names_df(spark, names), path).collect()
    )


# Catalog: two clusters ({A,B,C} chained through B, {D}) plus a singleton.
A, B, C = "aaaa pp", "aabb pp", "bbbb pp"   # lev(A,B)=2, lev(B,C)=2, lev(A,C)=4
D = "zzzz qq"
SYN_CATALOG = [A, B, C, D]


def test_build_chains_through_bridge(spark, tmp_path):
    idx = str(tmp_path / "idx")
    E.er_index_build(_names_df(spark, SYN_CATALOG), idx)
    got = dict((r[0], r[1]) for r in _view(spark, idx))
    assert got == {A: A, B: A, C: A, D: D}


def test_delete_bridge_splits_cluster(spark, tmp_path):
    idx = str(tmp_path / "idx")
    E.er_index_build(_names_df(spark, SYN_CATALOG), idx)
    E.er_index_delete(spark, _names_df(spark, [B]), idx)
    got = dict((r[0], r[1]) for r in _view(spark, idx))
    # B gone; A and C no longer connected -> the cluster SPLITS.
    assert got == {A: A, C: C, D: D}
    # And the deleted name no longer serves as a match target: a probe at
    # distance 1 from B ("axbb pp") must fall back to its own entity or a
    # live name — never B.
    m = dict((r[0], r[1]) for r in _match(spark, idx, ["aabb pq"]))
    assert m["aabb pq"] != B


def test_delete_canonical_reelects(spark, tmp_path):
    idx = str(tmp_path / "idx")
    E.er_index_build(_names_df(spark, SYN_CATALOG), idx)
    E.er_index_delete(spark, _names_df(spark, [A]), idx)  # A was canonical
    got = dict((r[0], r[1]) for r in _view(spark, idx))
    assert got == {B: B, C: B, D: D}  # min live member re-elected


def test_append_merges_via_new_bridge(spark, tmp_path):
    """A new name bridging two existing entities MERGES them, and every
    member of the merged component re-labels to the global min."""
    idx = str(tmp_path / "idx")
    E.er_index_build(_names_df(spark, [A, C, D]), idx)  # A,C separate (lev 4)
    before = dict((r[0], r[1]) for r in _view(spark, idx))
    assert before == {A: A, C: C, D: D}
    E.er_index_append(spark, _names_df(spark, [B]), idx)  # B bridges A<->C
    got = dict((r[0], r[1]) for r in _view(spark, idx))
    assert got == {A: A, B: A, C: A, D: D}


def test_append_twice_equals_once(spark, sf_dir, tmp_path):
    cat = E._er_catalog_names(spark, sf_dir)
    bat = E._er_batch_names(spark, sf_dir).join(cat, "nm", "left_anti")
    b1 = bat.filter(F.crc32(F.col("nm")) % 2 == 0)
    b2 = bat.filter(F.crc32(F.col("nm")) % 2 == 1)

    once = str(tmp_path / "once")
    twice = str(tmp_path / "twice")
    E.er_index_build(cat, once)
    E.er_index_build(cat, twice)
    E.er_index_append(spark, bat, once)
    E.er_index_append(spark, b1, twice)
    E.er_index_append(spark, b2, twice)
    assert _view(spark, once) == _view(spark, twice)
    # The serving path agrees too (match reads postings + entities).
    probes = [r[0] for r in bat.limit(20).collect()]
    if probes:
        assert _match(spark, once, probes) == _match(spark, twice, probes)


def test_delete_equals_rebuild_without(spark, sf_dir, tmp_path):
    cat = E._er_catalog_names(spark, sf_dir)
    dels = E._er_registered_dels(spark, sf_dir)
    # Precondition for EXACT equality under stored-edge semantics: no
    # blocking key may cross the df cap when the deleted names leave
    # (a >cap key can only exist if some df exceeds the cap at build).
    max_df = (
        cat.select("nm", F.explode(F.split("nm", " ")).alias("w"))
        .filter(F.col("w") != "")
        .distinct()
        .groupBy("w")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert max_df <= E._ER_BLOCK_DF_CAP, (
        "fixture drifted: df cap crossing possible — rebuild equality no "
        "longer exact by construction; adjust the test corpus"
    )
    deleted = str(tmp_path / "del")
    rebuilt = str(tmp_path / "reb")
    E.er_index_build(cat, deleted)
    E.er_index_delete(spark, dels, deleted)
    E.er_index_build(cat.join(dels, "nm", "left_anti"), rebuilt)
    assert _view(spark, deleted) == _view(spark, rebuilt)


def test_compact_preserves_view_and_clears_tombstones(spark, tmp_path):
    idx = str(tmp_path / "idx")
    E.er_index_build(_names_df(spark, SYN_CATALOG), idx)
    E.er_index_delete(spark, _names_df(spark, [B]), idx)
    dst = str(tmp_path / "compact")
    E.er_index_compact(spark, idx, dst)
    assert _view(spark, dst) == _view(spark, idx)
    assert not gio.manifest_relation_files(dst, "tombstones")
    assert _match(spark, dst, ["aaab pp"]) == _match(spark, idx, ["aaab pp"])
    # The compacted store inherits the source's applied chain (a writer
    # swapped onto it keeps exactly-once across the swap).
    src_gens = gio.manifest_applied_meta(idx, "gen")
    assert src_gens and src_gens <= gio.manifest_applied_meta(dst, "gen")


@pytest.mark.parametrize(
    "sf", ["/root/testdata/sf0.01", "/root/testdata/sf0.1"]
)
def test_registered_append_batch_triggers_merges(spark, sf):
    """VERDICT r10 item 6: the merge-relabel is er_index_append's one
    genuinely new algorithm, but the registered gate only proves the
    post-append MAP is right — if fixture statistics drifted until the
    mod-10 batch bridged nothing, the gate would still pass while the
    merge path ran vacuously.  Pin, at both driver scales, that the
    registered batch collapses ≥ 1 pair of pre-existing entities.
    Merges are the only way a catalog name's entity count can shrink on
    append (appends never split), so merged = distinct-old − distinct-
    new-over-old-names."""
    import os

    if not os.path.isdir(sf):
        pytest.skip(f"fixture dir missing: {sf}")
    with gio.scope():
        idx = gio.clone_store(E._er_index_path(spark, sf), "er_idx_")
        pre = E.er_index_entities(spark, idx).persist()
        fresh = E._er_batch_names(spark, sf).join(pre.select("nm"), "nm", "left_anti")
        E.er_index_append(spark, fresh, idx)
        post = E.er_index_entities(spark, idx)
        old_n = pre.select("entity_id").distinct().count()
        new_n = (
            post.join(pre.select("nm"), "nm").select("entity_id").distinct().count()
        )
        pre.unpersist()
    assert old_n - new_n >= 1, (
        f"registered append batch at {sf} merged no existing entities — "
        "the merge-relabel gate has gone vacuous; re-derive the batch "
        "predicate (entity.py _er_batch_names)"
    )


@pytest.mark.parametrize(
    "sf", ["/root/testdata/sf0.01", "/root/testdata/sf0.1"]
)
def test_registered_delete_set_nonvacuous(spark, sf):
    """Same non-vacuousness class as the merge pin, for the delete side:
    er_index_delete/delete_compact return WHOLE-state views, so an empty
    registered delete set would leave Spark and oracle agreeing on a
    no-op while the tombstone/re-label/split machinery never ran.  Pin
    that the md5 delete bucket stays a real, proper subset of the
    catalog at both driver scales (reads ~14 of 46 names today)."""
    import os

    if not os.path.isdir(sf):
        pytest.skip(f"fixture dir missing: {sf}")
    cat = E._er_catalog_names(spark, sf).count()
    dels = E._er_registered_dels(spark, sf).count()
    assert 0 < dels < cat, (
        f"registered ER delete set at {sf}: {dels} of {cat} catalog names "
        "— empty (vacuous gate) or total (deletes the whole catalog, the "
        "r10 partkey-predicate bug shape); re-derive the bucket"
    )


def test_tombstoned_name_rearrives_via_append(spark, tmp_path):
    """ADVICE r10: a deleted name that re-arrives in a later batch must
    become VISIBLE again — er_index_append un-tombstones it in the same
    atomic commit (pre-r11 the unconditional tombstone anti-join masked
    the new rows until compaction, making the append a silent no-op)."""
    idx = str(tmp_path / "idx")
    E.er_index_build(_names_df(spark, SYN_CATALOG), idx)
    E.er_index_delete(spark, _names_df(spark, [B, D]), idx)
    assert dict(_view(spark, idx)) == {A: A, C: C}
    # B re-arrives (GDPR shape: deleted customer signs up again); D stays
    # deleted — its tombstone must survive the rewrite.
    E.er_index_append(spark, _names_df(spark, [B]), idx)
    got = dict(_view(spark, idx))
    assert got == {A: A, B: A, C: A}  # B visible AND re-bridges A<->C
    m = dict((r[0], r[3]) for r in _match(spark, idx, [B, D]))
    assert m[B] == A  # resolves through the live index
    assert m[D] == D  # still deleted: falls back to self-entity
    # The rewrite and the append landed in ONE commit: no intermediate
    # version shows B live with D's tombstone dropped or vice versa.
    tomb_files = gio.manifest_relation_files(idx, "tombstones")
    df = spark.read.schema(E._ER_TOMB_SCHEMA).parquet(*tomb_files)
    assert [r[0] for r in df.collect()] == [D]


def test_append_without_rearrival_keeps_tombstones(spark, tmp_path):
    """The tombstone relation is rewritten ONLY when the batch actually
    re-arrives a deleted name — a plain append leaves it byte-identical
    (no spurious rewrite work on the hot ingest path)."""
    idx = str(tmp_path / "idx")
    E.er_index_build(_names_df(spark, SYN_CATALOG), idx)
    E.er_index_delete(spark, _names_df(spark, [D]), idx)
    before = gio.manifest_relation_files(idx, "tombstones")
    E.er_index_append(spark, _names_df(spark, ["aabc pp"]), idx)
    assert gio.manifest_relation_files(idx, "tombstones") == before


def test_append_crash_invisible_then_retry_exact(spark, tmp_path):
    idx = str(tmp_path / "idx")
    E.er_index_build(_names_df(spark, [A, C, D]), idx)
    before = _view(spark, idx)

    class Boom(RuntimeError):
        pass

    orig = gio.manifest_commit

    def exploding(*a, **k):
        raise Boom()

    gio.manifest_commit = exploding
    try:
        with pytest.raises(Boom):
            E.er_index_append(spark, _names_df(spark, [B]), idx)
    finally:
        gio.manifest_commit = orig
    # Crashed append invisible: view and gen unchanged.
    assert _view(spark, idx) == before
    assert E._er_next_gen(spark, idx) == 1

    # Retry lands exactly once; equals a clean build+append.
    E.er_index_append(spark, _names_df(spark, [B]), idx)
    ref = str(tmp_path / "ref")
    E.er_index_build(_names_df(spark, [A, C, D]), ref)
    E.er_index_append(spark, _names_df(spark, [B]), ref)
    assert _view(spark, idx) == _view(spark, ref)


def test_null_names_dropped_at_entry(spark, tmp_path):
    """ADVICE r11: NULL is not an entity name.  Every nm-keyed join in
    the lifecycle silently never matches NULL, so an admitted NULL would
    become an unreachable entities row — and a NULL tombstone could
    never be un-tombstoned by a re-arrival (NULL ≠ NULL in the semi
    join).  Both append and delete drop NULLs at entry; the surviving
    behavior is exactly the no-NULL run's."""
    idx = str(tmp_path / "idx")
    E.er_index_build(_names_df(spark, SYN_CATALOG), idx)
    null_df = spark.createDataFrame([("aabc pp",), (None,)], "nm string")
    E.er_index_append(spark, null_df, idx)
    got = dict(_view(spark, idx))
    assert None not in got
    assert got["aabc pp"] == A  # the real name landed and clustered
    # delete with a NULL in the set: no inert NULL tombstone row
    E.er_index_delete(spark, spark.createDataFrame([(D,), (None,)], "nm string"), idx)
    tomb_files = gio.manifest_relation_files(idx, "tombstones")
    df = spark.read.schema(E._ER_TOMB_SCHEMA).parquet(*tomb_files)
    assert [r[0] for r in df.collect()] == [D]
    assert None not in dict(_view(spark, idx))


def test_catalog_null_row_not_rechurned_by_appends(spark, tmp_path):
    """A NULL catalog name (er_index_build admits it — the store's NULL
    path keeps driver coverage under the null-mutant sweep) must not be
    re-written as a 'changed' entities row by every append: the left
    join on nm never matches NULL, so pre-r12 each append appended one
    more (NULL, NULL, gen) row forever.  Exactly ONE NULL row — the
    build's — may exist however many appends land."""
    idx = str(tmp_path / "idx")
    null_cat = spark.createDataFrame(
        [(A,), (B,), (D,), (None,)], "nm string"
    )
    E.er_index_build(null_cat, idx)
    E.er_index_append(spark, _names_df(spark, [C]), idx)
    E.er_index_append(spark, _names_df(spark, ["zzzz qr"]), idx)
    ents_files = gio.manifest_relation_files(idx, "entities")
    raw = spark.read.parquet(*ents_files)
    assert raw.filter(F.col("nm").isNull()).count() == 1
    # and the served view still carries the NULL row exactly once
    view = E.er_index_entities(spark, idx)
    assert view.filter(F.col("nm").isNull()).count() == 1
