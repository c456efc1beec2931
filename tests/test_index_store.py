"""The store contract every persisted index shares through its
``io.IndexStore`` declaration (MinHash band index, IVF-PQ codes, ER
catalog): empty reads keep the declared shape, a delete then a compaction
leaves no tombstone relation and keeps the applied-epoch chain, and a
``clone_store`` copy is an independent valid store."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from sqlite_to_clickhouse_spark import io as gio
from sqlite_to_clickhouse_spark.io import table


def _minhash(spark, sf_dir):
    from sqlite_to_clickhouse_spark.operators import dedup as D

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id long, tk array<string>")

    a, b = ["a", "x", "y"], ["b", "p"]
    return dict(
        store=D._IDX_STORE,
        build=lambda p: D.minhash_index_build(docs([(0, a), (1, a), (2, b), (3, ["q"])]), "doc_id", "tk", p),
        append=lambda p, meta: D.minhash_index_append(
            docs([(10, a), (11, ["d", "z"])]), "doc_id", "tk", p, meta=meta
        ),
        delete=lambda p: D.minhash_index_delete(docs([(1, a), (11, a)]).select("doc_id"), p),
        compact=D.minhash_index_compact,
        live=("tokens", "doc_id"),
        deleted={1, 11},
    )


def _ann(spark, sf_dir):
    from sqlite_to_clickhouse_spark.operators import similarity as S

    vecs = table(spark, sf_dir, "embeddings")
    gone = vecs.filter(F.col("vec_id") % S.ANN_DEL_MOD == S.ANN_DEL_REM).select("vec_id")
    return dict(
        store=S._ANN_STORE,
        build=lambda p: S.ann_index_build(spark, vecs.filter(~S._ann_batch_pred()), p).collect(),
        append=lambda p, meta: S.ann_index_append(spark, vecs.filter(S._ann_batch_pred()), p, meta=meta),
        delete=lambda p: S.ann_index_delete(gone, p),
        compact=S.ann_index_compact,
        live=("codes", "vec_id"),
        deleted={r.vec_id for r in gone.collect()},
    )


def _er(spark, sf_dir):
    from sqlite_to_clickhouse_spark.operators import entity as E

    def names(ns):
        return spark.createDataFrame([(n,) for n in ns], "nm string")

    return dict(
        store=E._ER_STORE,
        build=lambda p: E.er_index_build(names(["aaaa pp", "aabb pp", "bbbb pp", "zzzz qq"]), p),
        append=lambda p, meta: E.er_index_append(spark, names(["aaab pp", "zzzy qq"]), p, meta=meta),
        delete=lambda p: E.er_index_delete(spark, names(["aabb pp"]), p),
        compact=E.er_index_compact,
        live=("postings", "nm"),
        deleted={"aabb pp"},
    )


@pytest.fixture(params=[_minhash, _ann, _er], ids=["minhash", "ann", "er"])
def case(request, spark, sf_dir) -> dict:
    return request.param(spark, sf_dir)


def test_unwritten_relation_reads_empty_with_declared_schema(spark, tmp_path, case):
    store = case["store"]
    for rel, ddl in store.schemas.items():
        df = store.read(spark, str(tmp_path / "never"), rel)
        assert df.schema == spark.createDataFrame([], ddl).schema, rel
        assert df.count() == 0, rel
    assert store.tombstones(spark, str(tmp_path / "never")) is None


def test_delete_then_compact_drops_tombstones_and_keeps_applied_chain(spark, tmp_path, case):
    store, (rel, col) = case["store"], case["live"]
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    case["build"](src)
    case["append"](src, {"epoch": 7})
    case["delete"](src)
    tomb = store.tombstones(spark, src)
    assert tomb is not None and tomb.count() > 0
    case["compact"](spark, src, dst)

    assert "tombstones" not in gio.manifest_read(dst)["relations"]
    assert store.tombstones(spark, dst) is None
    before, after = gio.manifest_applied_chain(src), gio.manifest_applied_chain(dst)
    assert 7 in before["epoch"]
    for key, vals in before.items():
        assert set(vals) <= set(after[key]), key
    live = {r[0] for r in store.read(spark, dst, rel).select(col).collect()}
    assert live and not live & case["deleted"]


def test_clone_is_a_valid_store_independent_of_its_source(spark, tmp_path, case):
    store, (rel, col) = case["store"], case["live"]
    src = str(tmp_path / "src")
    case["build"](src)
    with gio.scope():
        clone = gio.clone_store(src, "store_contract_")
        assert gio.manifest_read(clone) == gio.manifest_read(src)
        src_rows = sorted(store.read(spark, src, rel).select(col).collect())
        assert sorted(store.read(spark, clone, rel).select(col).collect()) == src_rows

        src_manifest = gio.manifest_read(src)
        case["append"](clone, {"epoch": 1})
        assert gio.manifest_read(src) == src_manifest
        assert gio.manifest_versions(src) == [src_manifest["version"]]
        assert gio.manifest_current(clone) != src_manifest["version"]
        assert sorted(store.read(spark, src, rel).select(col).collect()) == src_rows


def test_minhash_lookup_ignores_a_stray_hash_conf(spark, tmp_path):
    """The persisted index records no hash family, so the lookup must hash
    exactly as the build did whatever the session conf says: a stray
    ``spark.graft.minhash.hash=xxhash64`` must not hide an exact duplicate
    of an indexed doc."""
    from sqlite_to_clickhouse_spark.operators import dedup as D

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id long, tk array<string>")

    path = str(tmp_path / "idx")
    D.minhash_index_build(docs([(0, ["b", "p"]), (1, ["a", "x", "y"])]), "doc_id", "tk", path)
    spark.conf.set("spark.graft.minhash.hash", "xxhash64")
    try:
        got = D.minhash_index_dedup(spark, docs([(10, ["y", "a", "x"])]), "doc_id", "tk", path)
        assert [tuple(r) for r in got.collect()] == [(1, 10, 1.0)]
    finally:
        spark.conf.unset("spark.graft.minhash.hash")
