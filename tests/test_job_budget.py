"""Spark job budgets of the index serving ops on the sf0.001 fixture
(500 docs, 500 vectors).  A job costs scheduling and a stage barrier
whatever its size, and at batch scale these ops are bound by exactly that,
so each pinned count is the op's current count plus 2: a change that adds
jobs to the serving path fails here before it shows in the benchmark.

The same ops, and the registry ops that used to leave cached frames or
temp dirs behind, run inside one io.scope and must leave no persisted RDD
and no new TMPDIR entry once it exits."""

from __future__ import annotations

import os
import tempfile

import pyspark.sql.functions as F
import pytest

from sqlite_to_clickhouse_spark import io as gio
from sqlite_to_clickhouse_spark.io import table


def _jobs(spark, fn) -> int:
    """Spark jobs started by ``fn()`` (job ids are dense per context)."""
    tracker = spark.sparkContext.statusTracker()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def last():
        bus.waitUntilEmpty()
        return max(tracker.getJobIdsForGroup() or [-1])

    before = last()
    fn()
    return last() - before


@pytest.fixture(scope="module", autouse=True)
def _private_tmpdir(tmp_path_factory):
    """A TMPDIR of this module's own, so the temp-dir deltas below count only
    what this process made (the shared index generations are rebuilt in it)."""
    d = tmp_path_factory.mktemp("tmpdir")
    with pytest.MonkeyPatch.context() as mp:
        mp.setenv("TMPDIR", str(d))
        mp.setattr(tempfile, "tempdir", None)  # re-resolve from TMPDIR
        yield


def _persisted(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _tmp_entries(sf_dir: str) -> set:
    """TMPDIR entries, less the shared index generations (the io.cache_base
    roots of ``sf_dir`` and their lock files), which live for the process."""
    tag = gio.cache_base("", sf_dir).rsplit("_", 1)[1]
    return {
        n
        for n in os.listdir(tempfile.gettempdir())
        if not (n.startswith("graft_") and n.split(".")[0].endswith(tag))
    }


def test_minhash_lookup_and_append_job_budget(spark, sf_dir, tmp_path):
    from sqlite_to_clickhouse_spark.operators.dedup import (
        _doc_tokens,
        minhash_index_append,
        minhash_index_build,
        minhash_index_dedup,
    )

    toks = _doc_tokens(table(spark, sf_dir, "documents"))
    idx = str(tmp_path / "idx")
    minhash_index_build(toks.filter(F.col("doc_id") % 10 != 7), "doc_id", "tk", idx)
    batch = toks.filter(F.col("doc_id") % 10 == 7)
    spark.catalog.clearCache()
    lookup = _jobs(
        spark, lambda: minhash_index_dedup(spark, batch, "doc_id", "tk", idx).collect()
    )
    spark.catalog.clearCache()
    append = _jobs(spark, lambda: minhash_index_append(batch, "doc_id", "tk", idx))
    # One persisted batch frame and one candidate join: 11 lookup jobs and
    # 8 cold-append jobs today (the three-frame plan took 25 and 13).
    assert lookup <= 13, lookup
    assert append <= 10, append


def test_ivfpq_quantizer_loads_without_spark_jobs(spark, sf_dir, tmp_path):
    from sqlite_to_clickhouse_spark.operators.similarity import (
        _load_quantizer,
        ann_index_build,
    )

    idx = str(tmp_path / "ann")
    ann_index_build(spark, table(spark, sf_dir, "embeddings"), idx).collect()
    got = []
    # Read with pyarrow from the manifest's file lists (Spark took 4 jobs).
    assert _jobs(spark, lambda: got.append(_load_quantizer(idx))) == 0
    books, cent_ids, C = got[0]
    assert books.ndim == 3 and len(cent_ids) == len(C) > 0


def test_ivfpq_topk_job_budget(spark, sf_dir):
    from sqlite_to_clickhouse_spark.operators import similarity as S

    e = table(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < S.N_PROBES).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("p_emb")
    )
    spark.catalog.clearCache()
    jobs = _jobs(spark, lambda: S.ivfpq_topk(e, probes, k=S.TOP_K, nprobe=S.NPROBE).collect())
    # One sample collect feeds both fits and one projection encodes: 8
    # jobs today (the two-projection self-join plan took 11).
    assert jobs <= 10, jobs


def test_cc_loop_checkpoints_released_by_scope(spark):
    """The distributed loop's local checkpoints belong to the open scope:
    a consumed result leaves no persisted RDD once the scope exits."""
    from sqlite_to_clickhouse_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 20, 2)] + [(i, i + 2) for i in range(0, 24, 2)],
        "src long, dst long",
    )
    assert edges.count() == 22
    rdds = _persisted(spark)
    with gio.scope():
        got = connected_components(edges, driver_edge_cap=0).collect()
    assert got
    assert _persisted(spark) - rdds == set()


@pytest.fixture(scope="module")
def built_stores(spark, sf_dir, tmp_path_factory) -> dict:
    """The three stores, built once over the registered corpus splits (the
    batch docs and vectors, id % 10 == 7, and the held-out name bucket
    stay out); each budget case works on its own clone."""
    from sqlite_to_clickhouse_spark.operators import dedup as D
    from sqlite_to_clickhouse_spark.operators import entity as E
    from sqlite_to_clickhouse_spark.operators import similarity as S

    root = tmp_path_factory.mktemp("stores")
    paths = {s: str(root / s) for s in ("dedup", "similarity", "entity")}
    docs = D._doc_tokens(table(spark, sf_dir, "documents"))
    D.minhash_index_build(docs.filter(~D._incr_batch_pred()), "doc_id", "tk", paths["dedup"])
    vecs = table(spark, sf_dir, "embeddings").filter(~S._ann_batch_pred())
    S.ann_index_build(spark, vecs, paths["similarity"]).collect()
    E.er_index_build(E._er_catalog_names(spark, sf_dir), paths["entity"])
    return paths


# op -> (store, jobs allowed): each budget is the op's current count plus
# 2.  Compactions run on a store with a committed delete, so they take the
# tombstone path.
_LIFECYCLE_BUDGETS = {
    "minhash_delete": ("dedup", 3),
    "minhash_compact": ("dedup", 15),
    "ann_delete": ("similarity", 3),
    "ann_compact": ("similarity", 8),
    "ann_query": ("similarity", 8),
    "ann_append": ("similarity", 4),
    "er_delete": ("entity", 45),
    "er_compact": ("entity", 10),
    "er_match": ("entity", 10),
    "er_append": ("entity", 31),
    "stream_incremental_dedup": (None, 22),
}


@pytest.mark.parametrize("op", sorted(_LIFECYCLE_BUDGETS))
def test_lifecycle_op_job_budget(spark, sf_dir, built_stores, op):
    from sqlite_to_clickhouse_spark.operators.dedup import _incr_index_path

    store, budget = _LIFECYCLE_BUDGETS[op]
    if op == "stream_incremental_dedup":
        # The shared corpus generation is built once per fixture; its build
        # jobs are not the stream's.
        _incr_index_path(spark, sf_dir)
    rdds, entries = _persisted(spark), _tmp_entries(sf_dir)
    with gio.scope():
        run = _lifecycle_op(spark, sf_dir, built_stores, op, store)
        spark.catalog.clearCache()
        jobs = _jobs(spark, run)
    assert jobs <= budget, (op, jobs)
    assert _persisted(spark) - rdds == set(), op
    assert _tmp_entries(sf_dir) - entries == set(), op


def _lifecycle_op(spark, sf_dir, built_stores, op, store):
    """The op's timed call, after its setup: a private clone of the store,
    and for a compaction the delete it compacts."""
    from sqlite_to_clickhouse_spark.operators import dedup as D
    from sqlite_to_clickhouse_spark.operators import entity as E
    from sqlite_to_clickhouse_spark.operators import similarity as S
    from sqlite_to_clickhouse_spark.streaming.ops import stream_incremental_dedup

    idx = gio.clone_store(built_stores[store], "job_budget_") if store else None
    docs = table(spark, sf_dir, "documents")
    vecs = table(spark, sf_dir, "embeddings")
    deletes = {
        "dedup": lambda: D.minhash_index_delete(D._deleted_ids(docs), idx),
        "similarity": lambda: S.ann_index_delete(
            vecs.filter(F.col("vec_id") % S.ANN_DEL_MOD == S.ANN_DEL_REM).select("vec_id"), idx
        ),
        "entity": lambda: E.er_index_delete(spark, E._er_registered_dels(spark, sf_dir), idx),
    }
    probes = vecs.filter(S._ann_batch_pred()).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("p_emb")
    )
    compact = {
        "dedup": D.minhash_index_compact,
        "similarity": S.ann_index_compact,
        "entity": E.er_index_compact,
    }
    if op.endswith("_compact"):
        deletes[store]()
        return lambda: compact[store](spark, idx, idx + "-c")
    if op.endswith("_delete"):
        return deletes[store]
    return {
        "ann_query": lambda: S.ann_index_query(
            spark, vecs, idx, probes, k=S.TOP_K, nprobe=S.ANN_INCR_NPROBE
        ).collect(),
        "ann_append": lambda: S.ann_index_append(spark, vecs.filter(S._ann_batch_pred()), idx),
        "er_match": lambda: E.er_index_match(spark, E._er_batch_names(spark, sf_dir), idx).collect(),
        "er_append": lambda: E.er_index_append(spark, E._er_batch_names(spark, sf_dir), idx),
        "stream_incremental_dedup": lambda: stream_incremental_dedup(spark, sf_dir).collect(),
    }[op]


# Registry ops that left cached frames behind before io.scope (the first
# fourteen), and ops that make and consume temp dirs or cloned stores.
_LEAK_OPS = [
    "dedup_fuzzy_minhash",
    "dedup_incremental",
    "dedup_incremental_deletes",
    "dedup_simhash_nn",
    "dedup_connected_components",
    "dedup_corpus_apply",
    "dedup_keep_best",
    "dedup_threshold_sweep",
    "dedup_lsh_recall",
    "er_blocked_pairs",
    "er_clusters",
    "er_golden_record",
    "er_incremental_match",
    "er_golden_record_incremental",
    "dedup_index_delete_compact",
    "er_index_delete_compact",
    "stream_incremental_dedup",
    "sink_parquet",
    # Ops reading a staged copy of a fixture (io.staged).
    "scan_jdbc",
    "scan_csv",
    "scan_json",
    "scan_orc",
    "scan_text_lines",
    "sink_partitioned_parquet",
    "join_dynamic_partition_pruning",
    "stream_tumbling",
]


@pytest.mark.parametrize("name", _LEAK_OPS)
def test_registry_op_leaves_nothing_in_scope(spark, sf_dir, name):
    from sqlite_to_clickhouse_spark.registry import all_queries

    fn = all_queries()[name].fn
    spark.catalog.clearCache()
    rdds, entries = _persisted(spark), _tmp_entries(sf_dir)
    with gio.scope():
        assert fn(spark, sf_dir).count() >= 0
    assert _persisted(spark) - rdds == set(), name
    assert _tmp_entries(sf_dir) - entries == set(), name
