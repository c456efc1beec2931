"""Property-based checks of minhash_lsh_pairs (the library API under
dedup_fuzzy_minhash): on random small corpora,

- PRECISION is exact by construction (the verify stage computes true
  Jaccard on the 31-bit-masked distinct token hashes) — every returned
  pair must satisfy jaccard >= threshold against a driver-side
  recomputation on the same masked-hash space;
- RECALL at J=1 is a hard guarantee, not probabilistic: identical token
  SETS produce identical signatures, hence identical band keys, hence a
  candidate pair in every band — such pairs can never be missed.
"""

from __future__ import annotations

import hashlib

import pytest
from hypothesis import given, settings, strategies as st

# Fourth suite command (VERDICT r11 item 7): group 1 hit 9:33 sequential
# (zero headroom on a loaded host against the 10-minute window); this
# module is its heaviest block (~2:45) and is a minhash-FAMILY battery,
# so it rides the per-family-store command, which has the most headroom.
pytestmark = pytest.mark.mutant_keycol

from sqlite_to_clickhouse_spark.operators.dedup import (
    JACCARD_T,
    MERSENNE31,
    minhash_lsh_pairs,
)

_VOCAB = [f"w{i}" for i in range(12)]


def _masked_hashes(tokens):
    """Mirror the pipeline's token-hash space: md5 → first 15 hex digits
    → 60-bit int → & M31, distinct."""
    out = set()
    for t in set(tokens):
        h = int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
        out.add(h & MERSENNE31)
    return out


def _true_jaccard(a, b):
    ha, hb = _masked_hashes(a), _masked_hashes(b)
    if not ha or not hb:
        return 0.0
    return len(ha & hb) / len(ha | hb)


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from(_VOCAB), min_size=1, max_size=8),
        min_size=2,
        max_size=10,
    )
)
def test_minhash_pairs_precise_and_exact_dupes_never_missed(spark, docs):
    df = spark.createDataFrame(
        [(i, toks) for i, toks in enumerate(docs)],
        "doc_id long, tokens array<string>",
    )
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_lsh_pairs(df, "doc_id", "tokens").collect()
    }
    # Precision: every returned pair clears the threshold on a driver-side
    # recomputation over the identical masked-hash token space.
    for (a, b), jac in got.items():
        true_j = _true_jaccard(docs[a], docs[b])
        assert true_j >= JACCARD_T
        assert abs(jac - round(true_j, 6)) < 1e-9
    # Guaranteed recall at J=1: identical token SETS must always pair.
    for i in range(len(docs)):
        for j in range(i + 1, len(docs)):
            if set(docs[i]) == set(docs[j]):
                assert (i, j) in got, f"identical docs {i},{j} missed"


def _pairs(df):
    return {(r.id_a, r.id_b): r.jaccard for r in df.collect()}


def test_incremental_index_append_twice_equals_once(spark, sf_dir, tmp_path):
    """The persisted-index serving path (VERDICT r7 item 4): dedup of two
    batches with an append between must equal dedup of the combined batch
    against the same starting index — and both must equal the one-shot
    full-corpus LSH restricted to pairs touching a batch doc.  Pinned on
    the real fixture so the equality covers genuine near-dup pairs, not
    just synthetic exact dups."""
    import pyspark.sql.functions as F

    from sqlite_to_clickhouse_spark.io import table
    from sqlite_to_clickhouse_spark.operators.dedup import (
        _doc_tokens,
        minhash_index_append,
        minhash_index_build,
        minhash_index_dedup,
        minhash_lsh_pairs,
    )

    docs = table(spark, sf_dir, "documents")
    toks = _doc_tokens(docs)
    corpus = toks.filter(F.col("doc_id") % 5 >= 2)
    b1 = toks.filter(F.col("doc_id") % 5 == 0)
    b2 = toks.filter(F.col("doc_id") % 5 == 1)

    p_two = str(tmp_path / "idx_two")
    minhash_index_build(corpus, "doc_id", "tk", p_two)
    r1 = _pairs(minhash_index_dedup(spark, b1, "doc_id", "tk", p_two))
    minhash_index_append(b1, "doc_id", "tk", p_two)
    r2 = _pairs(minhash_index_dedup(spark, b2, "doc_id", "tk", p_two))
    assert not (set(r1) & set(r2)), "a pair surfaced in both steps"
    two_step = {**r1, **r2}

    p_one = str(tmp_path / "idx_one")
    minhash_index_build(corpus, "doc_id", "tk", p_one)
    one_shot = _pairs(
        minhash_index_dedup(spark, b1.unionByName(b2), "doc_id", "tk", p_one)
    )
    assert two_step == one_shot

    full = _pairs(minhash_lsh_pairs(toks, "doc_id", "tk"))
    want = {
        p: j for p, j in full.items() if p[0] % 5 <= 1 or p[1] % 5 <= 1
    }
    assert one_shot == want
    assert one_shot, "fixture produced no near-dup pairs touching a batch"


def test_append_after_lookup_equals_plain_append(spark, sf_dir, tmp_path):
    """An append that follows a lookup of the same batch (the streaming
    handler's order: the append builds the lookup's batch-frame plan, so
    Spark serves it from the lookup's cached copy) must write a store
    identical in content to a plain append — same rows in every relation,
    same lookup pairs."""
    import pyspark.sql.functions as F

    from sqlite_to_clickhouse_spark import io as gio
    from sqlite_to_clickhouse_spark.io import table
    from sqlite_to_clickhouse_spark.operators.dedup import (
        _IDX_STORE,
        _doc_tokens,
        minhash_index_append,
        minhash_index_build,
        minhash_index_dedup,
    )

    toks = _doc_tokens(table(spark, sf_dir, "documents"))
    corpus = toks.filter(F.col("doc_id") % 5 >= 2)
    b1 = toks.filter(F.col("doc_id") % 5 == 0)

    p_pre = str(tmp_path / "idx_pre")
    p_plain = str(tmp_path / "idx_plain")
    minhash_index_build(corpus, "doc_id", "tk", p_pre)
    minhash_index_build(corpus, "doc_id", "tk", p_plain)

    with gio.scope():
        pre_pairs = _pairs(minhash_index_dedup(spark, b1, "doc_id", "tk", p_pre))
        minhash_index_append(b1, "doc_id", "tk", p_pre)

    # The plain side releases its lookup's frame first, so its append
    # computes the batch frame afresh.
    with gio.scope():
        plain_pairs = _pairs(minhash_index_dedup(spark, b1, "doc_id", "tk", p_plain))
    minhash_index_append(b1, "doc_id", "tk", p_plain)
    assert pre_pairs == plain_pairs

    for rel, key in (("bands", ("bk", "doc_id", "pb")), ("tokens", None), ("sets", None)):
        a = _IDX_STORE.read(spark, p_pre, rel)
        b = _IDX_STORE.read(spark, p_plain, rel)
        cols = list(key) if key else a.columns
        ra = sorted(map(tuple, a.select(*cols).collect()))
        rb = sorted(map(tuple, b.select(*cols).collect()))
        assert ra == rb, f"relation {rel} diverged under lookup-then-append"


def test_incremental_lookup_prunes_band_partitions(spark, sf_dir, tmp_path):
    """A small batch's index lookup must reach the bands scan as a
    PartitionFilters entry on pb — the directory pruning that lets a
    100 TB index serve a batch by reading only its probed buckets."""
    import contextlib
    import io as _io

    import pyspark.sql.functions as F

    from sqlite_to_clickhouse_spark.io import table
    from sqlite_to_clickhouse_spark.operators.dedup import (
        _doc_tokens,
        minhash_index_build,
        minhash_index_dedup,
    )

    docs = _doc_tokens(table(spark, sf_dir, "documents"))
    path = str(tmp_path / "idx")
    minhash_index_build(docs.filter(F.col("doc_id") % 10 != 7), "doc_id", "tk", path)
    batch = docs.filter(F.col("doc_id") == 7).limit(1)
    df = minhash_index_dedup(spark, batch, "doc_id", "tk", path)
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    hits = [
        l
        for l in plan.splitlines()
        if "PartitionFilters" in l and "pb" in l and "IN (" in l.upper()
    ]
    assert hits, f"no pb partition filter in plan:\n{plan}"

    # Tombstones must not cost the pruning: the same lookup against a
    # tombstoned index keeps the static pb filter on the bands scan (the
    # anti-join and re-election touch tokens/, never the bands path).
    from sqlite_to_clickhouse_spark.operators.dedup import minhash_index_delete

    minhash_index_delete(
        docs.filter(F.col("doc_id") % 30 == 3).select("doc_id"), path
    )
    df_t = minhash_index_dedup(spark, batch, "doc_id", "tk", path)
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        df_t.explain("formatted")
    plan_t = buf.getvalue()
    hits_t = [
        l
        for l in plan_t.splitlines()
        if "PartitionFilters" in l and "pb" in l and "IN (" in l.upper()
    ]
    assert hits_t, f"tombstones lost the pb partition filter:\n{plan_t}"


def test_index_compaction_preserves_lookups_and_collapses_files(
    spark, sf_dir, tmp_path
):
    """Compacting an append-grown index must (a) reduce the band file
    count (that is its one job) and (b) serve BIT-IDENTICAL lookups —
    content preservation stronger than the row-count gate: same pairs,
    same jaccards, from the same batch."""
    import glob
    import os

    import pyspark.sql.functions as F

    from sqlite_to_clickhouse_spark.io import table
    from sqlite_to_clickhouse_spark.operators.dedup import (
        _doc_tokens,
        minhash_index_append,
        minhash_index_build,
        minhash_index_compact,
        minhash_index_dedup,
    )

    toks = _doc_tokens(table(spark, sf_dir, "documents"))
    grown = str(tmp_path / "grown")
    compacted = str(tmp_path / "compacted")
    minhash_index_build(toks.filter(F.col("doc_id") % 5 > 1), "doc_id", "tk", grown)
    minhash_index_append(toks.filter(F.col("doc_id") % 5 == 0), "doc_id", "tk", grown)
    minhash_index_append(toks.filter(F.col("doc_id") % 5 == 1), "doc_id", "tk", grown)
    minhash_index_compact(spark, grown, compacted)

    def n_files(p):
        return len(glob.glob(os.path.join(p, "bands", "**", "*.parquet"),
                             recursive=True))

    assert n_files(compacted) < n_files(grown), (
        n_files(compacted), n_files(grown),
    )

    batch = toks.filter(F.col("doc_id") % 97 == 3)
    before = _pairs(minhash_index_dedup(spark, batch, "doc_id", "tk", grown))
    after = _pairs(minhash_index_dedup(spark, batch, "doc_id", "tk", compacted))
    assert before == after
    assert before, "lookup batch produced no pairs; pick a denser batch"


def test_index_append_joins_existing_clusters(spark, tmp_path):
    """Schema-v2 cluster maintenance: an appended doc whose token set is
    already indexed must JOIN that cluster (one tokens/ row, no new
    bands, no new sets/ row) — and a later lookup must surface it
    through the member expansion at jaccard 1.0."""
    import os

    from sqlite_to_clickhouse_spark.operators.dedup import (
        _IDX_BANDS_SCHEMA,
        _IDX_SETS_SCHEMA,
        _IDX_TOKENS_SCHEMA,
        minhash_index_append,
        minhash_index_build,
        minhash_index_dedup,
    )

    def frame(rows):
        return spark.createDataFrame(rows, "doc_id long, tk array<string>")

    A, B, C, D = ["a", "x", "y"], ["b", "p"], ["c", "q", "r"], ["d", "z"]
    path = str(tmp_path / "idx")
    minhash_index_build(frame([(0, A), (1, A), (2, B), (3, C)]),
                        "doc_id", "tk", path)

    def counts():
        return tuple(
            spark.read.schema(schema).parquet(os.path.join(path, rel)).count()
            for rel, schema in (("bands", _IDX_BANDS_SCHEMA),
                                ("tokens", _IDX_TOKENS_SCHEMA),
                                ("sets", _IDX_SETS_SCHEMA))
        )

    assert counts() == (3 * 4, 4, 3)  # 3 distinct sets x 4 bands; 4 docs

    # 10 joins cluster A (indexed); 11/12 form one NEW cluster D.
    minhash_index_append(frame([(10, A), (11, D), (12, D)]), "doc_id", "tk", path)
    b, t, s = counts()
    assert s == 4, "appending an indexed set must not add a sets/ row"
    assert b == 4 * 4, "appending an indexed set must not add band rows"
    assert t == 7
    reps = {
        r.doc_id: r.rep_id
        for r in spark.read.schema(_IDX_TOKENS_SCHEMA)
        .parquet(os.path.join(path, "tokens")).collect()
    }
    assert reps[10] == 0 and reps[11] == 11 and reps[12] == 11

    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_index_dedup(
            spark, frame([(20, A), (21, D)]), "doc_id", "tk", path
        ).collect()
    }
    assert got == {
        (0, 20): 1.0, (1, 20): 1.0, (10, 20): 1.0,   # via cluster A expansion
        (11, 21): 1.0, (12, 21): 1.0,                 # via cluster D expansion
    }


def test_compaction_preserves_append_semantics(spark, sf_dir, tmp_path):
    """Compaction must preserve ALL THREE relations' semantics — not just
    lookup results: sets/ drives APPEND-time cluster maintenance, so a
    compaction that dropped or duplicated sets rows would only corrupt
    the index on the NEXT append.  Pin: appending the same batch to the
    grown index and to its compacted copy yields identical lookups and
    identical sets/ cardinality."""
    import os

    import pyspark.sql.functions as F

    from sqlite_to_clickhouse_spark.io import table
    from sqlite_to_clickhouse_spark.operators.dedup import (
        _IDX_SETS_SCHEMA,
        _doc_tokens,
        minhash_index_append,
        minhash_index_build,
        minhash_index_compact,
        minhash_index_dedup,
    )

    toks = _doc_tokens(table(spark, sf_dir, "documents"))
    corpus = toks.filter(F.col("doc_id") % 5 >= 2)
    b1 = toks.filter(F.col("doc_id") % 5 == 0)
    b2 = toks.filter(F.col("doc_id") % 5 == 1)

    grown = str(tmp_path / "grown")
    compacted = str(tmp_path / "compacted")
    minhash_index_build(corpus, "doc_id", "tk", grown)
    minhash_index_append(b1, "doc_id", "tk", grown)
    minhash_index_compact(spark, grown, compacted)

    minhash_index_append(b2, "doc_id", "tk", grown)
    minhash_index_append(b2, "doc_id", "tk", compacted)

    def sets_n(p):
        return (
            spark.read.schema(_IDX_SETS_SCHEMA)
            .parquet(os.path.join(p, "sets"))
            .count()
        )

    assert sets_n(grown) == sets_n(compacted)
    probe = toks.filter(F.col("doc_id") % 97 == 3)
    a = _pairs(minhash_index_dedup(spark, probe, "doc_id", "tk", grown))
    b = _pairs(minhash_index_dedup(spark, probe, "doc_id", "tk", compacted))
    assert a == b and a, "post-compaction append diverged (or empty probe)"


def test_stream_equals_batch_incremental(spark, sf_dir):
    """End-to-end Spark-side parity: the streaming ingest loop's unioned
    micro-batch output must equal the one-shot dedup_incremental result
    exactly (the append-twice theorem, pinned here without the DuckDB
    oracle in the loop)."""
    from sqlite_to_clickhouse_spark.registry import all_queries

    q = all_queries()
    batch = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in q["dedup_incremental"].fn(spark, sf_dir).collect()
    }
    stream = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in q["stream_incremental_dedup"].fn(spark, sf_dir).collect()
    }
    assert stream == batch and batch


def test_delete_then_lookup_equals_rebuild_without(spark, sf_dir, tmp_path):
    """Tombstone deletes (minhash_index_delete, VERDICT r8 item 4): after
    deleting docs from the index, a batch lookup must be BIT-IDENTICAL to
    a lookup against an index REBUILT on corpus-minus-deleted — no
    deleted endpoint may survive in any pair, no live pair may be lost.
    The delete set is chosen so it hits cluster REPRESENTATIVES (asserted
    below), so the equality covers the re-election path, not just the
    member anti-join."""
    import os

    import pyspark.sql.functions as F

    from sqlite_to_clickhouse_spark.io import table
    from sqlite_to_clickhouse_spark.operators.dedup import (
        _IDX_TOKENS_SCHEMA,
        _doc_tokens,
        minhash_index_build,
        minhash_index_dedup,
        minhash_index_delete,
    )

    toks = _doc_tokens(table(spark, sf_dir, "documents"))
    corpus = toks.filter(F.col("doc_id") % 10 != 7)
    batch = toks.filter(F.col("doc_id") % 10 == 7)
    del_pred = F.col("doc_id") % 30 == 3

    p_del = str(tmp_path / "idx_del")
    minhash_index_build(corpus, "doc_id", "tk", p_del)
    # The delete set must include representative rows, or this test
    # would silently stop covering re-election on a regenerated fixture.
    reps_deleted = (
        spark.read.schema(_IDX_TOKENS_SCHEMA)
        .parquet(os.path.join(p_del, "tokens"))
        .filter((F.col("doc_id") == F.col("rep_id")) & (F.col("doc_id") % 30 == 3))
        .count()
    )
    assert reps_deleted > 0, "delete set hit no cluster representative"
    minhash_index_delete(corpus.filter(del_pred).select("doc_id"), p_del)
    got = _pairs(minhash_index_dedup(spark, batch, "doc_id", "tk", p_del))

    p_ref = str(tmp_path / "idx_ref")
    minhash_index_build(corpus.filter(~del_pred), "doc_id", "tk", p_ref)
    want = _pairs(minhash_index_dedup(spark, batch, "doc_id", "tk", p_ref))

    assert got == want
    assert want, "fixture produced no pairs after deletion; loosen the split"
    # And the tombstones actually removed something a plain lookup had.
    p_plain = str(tmp_path / "idx_plain")
    minhash_index_build(corpus, "doc_id", "tk", p_plain)
    plain = _pairs(minhash_index_dedup(spark, batch, "doc_id", "tk", p_plain))
    dropped = {p for p in plain if p not in want}
    assert dropped, "deletion removed no pair — delete set too sparse to test"


def test_delete_compact_equals_rebuild_without(spark, sf_dir, tmp_path):
    """Compaction physically applies tombstones: the compacted index's
    three relations must be CONTENT-IDENTICAL to an index built on
    corpus-minus-deleted (bands relabeled to the min live member exactly
    as a rebuild would elect it), and the compacted copy must carry no
    tombstone relation at all."""
    import os

    import pyspark.sql.functions as F

    from sqlite_to_clickhouse_spark.io import table
    from sqlite_to_clickhouse_spark.operators.dedup import (
        _IDX_BANDS_SCHEMA,
        _IDX_SETS_SCHEMA,
        _IDX_TOKENS_SCHEMA,
        _doc_tokens,
        minhash_index_build,
        minhash_index_compact,
        minhash_index_delete,
    )

    toks = _doc_tokens(table(spark, sf_dir, "documents"))
    corpus = toks.filter(F.col("doc_id") % 10 != 7)
    del_pred = F.col("doc_id") % 30 == 3

    grown = str(tmp_path / "grown")
    minhash_index_build(corpus, "doc_id", "tk", grown)
    minhash_index_delete(corpus.filter(del_pred).select("doc_id"), grown)
    compacted = str(tmp_path / "compacted")
    minhash_index_compact(spark, grown, compacted)
    assert not os.path.isdir(os.path.join(compacted, "tombstones"))

    ref = str(tmp_path / "ref")
    minhash_index_build(corpus.filter(~del_pred), "doc_id", "tk", ref)

    def rel(p, name, schema, cols):
        def freeze(v):  # array columns (skey, tk32) -> hashable tuples
            return tuple(v) if isinstance(v, list) else v

        return {
            tuple(freeze(x) for x in r)
            for r in spark.read.schema(schema)
            .parquet(os.path.join(p, name))
            .select(*cols)
            .collect()
        }

    for name, schema, cols in (
        ("bands", _IDX_BANDS_SCHEMA, ["bk", "doc_id"]),
        ("sets", _IDX_SETS_SCHEMA, ["skey", "rep_id"]),
        ("tokens", _IDX_TOKENS_SCHEMA, ["doc_id", "tk32", "rep_id"]),
    ):
        got = rel(compacted, name, schema, cols)
        want = rel(ref, name, schema, cols)
        assert got == want, f"{name} diverged: {len(got)} vs {len(want)} rows"
        assert got, f"{name} empty — fixture too sparse to exercise the test"


def test_delete_then_append_then_lookup_equals_rebuild(spark, sf_dir, tmp_path):
    """Delete/append INTERPLAY: tombstoning, then growing the index by a
    new batch, then serving a second batch must equal the same
    append+lookup against an index built without the deleted docs.  This
    covers the subtle seam: an appended doc identical to a FULLY-DELETED
    cluster joins that dead cluster's sets/ row in the tombstoned index
    but forms a fresh cluster in the rebuilt one — the member-pair output
    must be identical either way (cluster labels never leak)."""
    import pyspark.sql.functions as F

    from sqlite_to_clickhouse_spark.io import table
    from sqlite_to_clickhouse_spark.operators.dedup import (
        _doc_tokens,
        minhash_index_append,
        minhash_index_build,
        minhash_index_dedup,
        minhash_index_delete,
    )

    toks = _doc_tokens(table(spark, sf_dir, "documents"))
    corpus = toks.filter(F.col("doc_id") % 5 >= 2)
    b1 = toks.filter(F.col("doc_id") % 5 == 0)
    b2 = toks.filter(F.col("doc_id") % 5 == 1)
    del_pred = F.col("doc_id") % 15 == 3  # subset of the corpus split

    p_a = str(tmp_path / "tombstoned")
    minhash_index_build(corpus, "doc_id", "tk", p_a)
    minhash_index_delete(corpus.filter(del_pred).select("doc_id"), p_a)
    minhash_index_append(b1, "doc_id", "tk", p_a)
    got = _pairs(minhash_index_dedup(spark, b2, "doc_id", "tk", p_a))

    p_b = str(tmp_path / "rebuilt")
    minhash_index_build(corpus.filter(~del_pred), "doc_id", "tk", p_b)
    minhash_index_append(b1, "doc_id", "tk", p_b)
    want = _pairs(minhash_index_dedup(spark, b2, "doc_id", "tk", p_b))

    assert got == want
    assert want, "fixture produced no pairs; loosen the splits"


def test_tombstoned_lookup_broadcasts_tombstone_joins(spark, sf_dir, tmp_path):
    """Plan shape of the tombstoned dedup lookup: both tombstone-driven
    joins — the member-store anti-join and the re-election semi-join —
    must build on the tiny tombstone side as broadcast hash joins, never
    a sort-merge that would shuffle the corpus-sized member store on the
    per-ingest hot path."""
    import contextlib
    import io as _io

    import pyspark.sql.functions as F

    from sqlite_to_clickhouse_spark.io import table
    from sqlite_to_clickhouse_spark.operators.dedup import (
        _doc_tokens,
        minhash_index_build,
        minhash_index_dedup,
        minhash_index_delete,
    )

    toks = _doc_tokens(table(spark, sf_dir, "documents"))
    p = str(tmp_path / "idx")
    minhash_index_build(toks.filter(F.col("doc_id") % 10 != 7), "doc_id", "tk", p)
    minhash_index_delete(
        toks.filter(F.col("doc_id") % 30 == 3).select("doc_id"), p
    )
    df = minhash_index_dedup(
        spark, toks.filter(F.col("doc_id") % 10 == 7), "doc_id", "tk", p
    )
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    lines = buf.getvalue().splitlines()
    antis = [l for l in lines if "LeftAnti" in l]
    semis = [l for l in lines if "LeftSemi" in l]
    assert antis and semis, "tombstone anti/semi joins missing from the plan"
    assert not any("SortMergeJoin" in l for l in antis + semis), (
        "a tombstone join fell back to sort-merge:\n"
        + "\n".join(antis + semis)
    )


def test_delete_everything_and_spurious_ids(spark, sf_dir, tmp_path):
    """Two delete edges: (a) tombstoning EVERY indexed doc must leave
    lookups serving only batch-internal pairs, and compaction must
    produce an empty-but-readable index; (b) tombstones for ids that
    were never indexed are harmless no-ops (the anti-join simply misses)
    — a delete request may cite ids already compacted away or never
    ingested."""
    import os

    import pyspark.sql.functions as F

    from sqlite_to_clickhouse_spark.io import table
    from sqlite_to_clickhouse_spark.operators.dedup import (
        _IDX_BANDS_SCHEMA,
        _IDX_SETS_SCHEMA,
        _IDX_TOKENS_SCHEMA,
        _doc_tokens,
        minhash_index_build,
        minhash_index_compact,
        minhash_index_dedup,
        minhash_index_delete,
    )

    toks = _doc_tokens(table(spark, sf_dir, "documents"))
    corpus = toks.filter(F.col("doc_id") % 10 != 7)
    batch = toks.filter(F.col("doc_id") % 10 == 7)

    # (b) spurious ids: tombstone a disjoint id range, lookup unchanged.
    p_sp = str(tmp_path / "spurious")
    minhash_index_build(corpus, "doc_id", "tk", p_sp)
    base = _pairs(minhash_index_dedup(spark, batch, "doc_id", "tk", p_sp))
    spurious = spark.range(10_000_000, 10_000_050).select(
        F.col("id").alias("doc_id")
    )
    minhash_index_delete(spurious, p_sp)
    assert _pairs(minhash_index_dedup(spark, batch, "doc_id", "tk", p_sp)) == base
    assert base, "fixture produced no baseline pairs"

    # (a) delete everything: only batch-internal pairs survive.
    p_all = str(tmp_path / "nuked")
    minhash_index_build(corpus, "doc_id", "tk", p_all)
    minhash_index_delete(corpus.select("doc_id"), p_all)
    got = _pairs(minhash_index_dedup(spark, batch, "doc_id", "tk", p_all))
    batch_ids = {r["doc_id"] for r in batch.select("doc_id").collect()}
    assert got, "batch has no internal pairs — loosen the split"
    assert all(a in batch_ids and b in batch_ids for a, b in got), (
        "a deleted corpus doc leaked into the output"
    )
    compacted = str(tmp_path / "nuked_compacted")
    minhash_index_compact(spark, p_all, compacted)
    for rel, schema in (
        ("bands", _IDX_BANDS_SCHEMA),
        ("tokens", _IDX_TOKENS_SCHEMA),
        ("sets", _IDX_SETS_SCHEMA),
    ):
        assert (
            spark.read.schema(schema)
            .parquet(os.path.join(compacted, rel))
            .count()
            == 0
        ), f"{rel} not empty after delete-everything compaction"
    assert (
        _pairs(minhash_index_dedup(spark, batch, "doc_id", "tk", compacted))
        == got
    )


def test_retry_after_committed_append_is_byte_identical(spark, sf_dir, tmp_path):
    """VERDICT r12 item 7 — the streaming retry window: if a micro-batch's
    index append COMMITS but its epoch-pair write fails, foreachBatch
    retries the batch under the same epoch_id.  The retry must write
    ep-N bit-identical to what the first attempt would have written,
    even though the index now already contains the batch (the handler
    excludes its own doc ids from the lookup on the applied-epoch path).
    Simulated by committing the append out-of-band and then running the
    handler as the 'retry'."""
    import pyspark.sql.functions as F

    from sqlite_to_clickhouse_spark.io import manifest_applied_meta, table
    from sqlite_to_clickhouse_spark.operators.dedup import (
        _doc_tokens,
        minhash_index_append,
        minhash_index_build,
    )
    from sqlite_to_clickhouse_spark.streaming.ops import (
        _PAIR_SCHEMA,
        _incr_dedup_handler,
    )

    docs = table(spark, sf_dir, "documents")
    batch_docs = docs.filter(F.col("doc_id") % 5 == 0)
    corpus = _doc_tokens(docs.filter(F.col("doc_id") % 5 >= 2))
    b1 = _doc_tokens(batch_docs)

    def _ep0(out_dir):
        df = spark.read.schema(_PAIR_SCHEMA).parquet(str(out_dir / "ep-0"))
        return sorted(map(tuple, df.collect()))

    # First attempt, no crash: lookup against the pre-append index.
    p_a, out_a = str(tmp_path / "idx_a"), tmp_path / "out_a"
    out_a.mkdir()
    minhash_index_build(corpus, "doc_id", "tk", p_a)
    _incr_dedup_handler(spark, p_a, str(out_a))(batch_docs, 0)
    first = _ep0(out_a)
    assert first, "fixture produced no pairs for the retry pin"

    # Retry: the same epoch's append already committed (crash landed
    # between the append commit and the pair write).
    p_b, out_b = str(tmp_path / "idx_b"), tmp_path / "out_b"
    out_b.mkdir()
    minhash_index_build(corpus, "doc_id", "tk", p_b)
    minhash_index_append(b1, "doc_id", "tk", p_b, meta={"epoch": 0})
    assert 0 in manifest_applied_meta(p_b, "epoch")
    _incr_dedup_handler(spark, p_b, str(out_b))(batch_docs, 0)

    assert _ep0(out_b) == first
    # And the retry must not have double-appended.
    assert manifest_applied_meta(p_b, "epoch") == [0] or \
        list(manifest_applied_meta(p_b, "epoch")) == [0]
