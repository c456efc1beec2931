"""Spark job budgets of the index serving ops on the sf0.001 fixture
(500 docs, 500 vectors).  A job costs scheduling and a stage barrier
whatever its size, and at batch scale these ops are bound by exactly that,
so each pinned count is the op's current count plus 2: a change that adds
jobs to the serving path fails here before it shows in the benchmark."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

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
    "ann_compact": ("similarity", 9),
    "ann_query": ("similarity", 9),
    "ann_append": ("similarity", 4),
    "er_delete": ("entity", 45),
    "er_compact": ("entity", 10),
    "er_match": ("entity", 10),
    "er_append": ("entity", 31),
    "stream_incremental_dedup": (None, 22),
}


@pytest.mark.parametrize("op", sorted(_LIFECYCLE_BUDGETS))
def test_lifecycle_op_job_budget(spark, sf_dir, built_stores, op):
    from sqlite_to_clickhouse_spark.io import clone_store
    from sqlite_to_clickhouse_spark.operators import dedup as D
    from sqlite_to_clickhouse_spark.operators import entity as E
    from sqlite_to_clickhouse_spark.operators import similarity as S
    from sqlite_to_clickhouse_spark.streaming.ops import stream_incremental_dedup

    store, budget = _LIFECYCLE_BUDGETS[op]
    idx = clone_store(built_stores[store], "job_budget_") if store else None
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
        run = lambda: compact[store](spark, idx, idx + "-c")  # noqa: E731
    elif op.endswith("_delete"):
        run = deletes[store]
    else:
        run = {
            "ann_query": lambda: S.ann_index_query(
                spark, vecs, idx, probes, k=S.TOP_K, nprobe=S.ANN_INCR_NPROBE
            ).collect(),
            "ann_append": lambda: S.ann_index_append(spark, vecs.filter(S._ann_batch_pred()), idx),
            "er_match": lambda: E.er_index_match(spark, E._er_batch_names(spark, sf_dir), idx).collect(),
            "er_append": lambda: E.er_index_append(spark, E._er_batch_names(spark, sf_dir), idx),
            "stream_incremental_dedup": lambda: stream_incremental_dedup(spark, sf_dir).collect(),
        }[op]
    if op == "stream_incremental_dedup":
        # The shared corpus generation is built once per fixture; its build
        # jobs are not the stream's.
        D._incr_index_path(spark, sf_dir)
    spark.catalog.clearCache()
    jobs = _jobs(spark, run)
    assert jobs <= budget, (op, jobs)
