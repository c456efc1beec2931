"""Spark job budgets of the index serving ops on the sf0.001 fixture
(500 docs, 500 vectors).  A job costs scheduling and a stage barrier
whatever its size, and at batch scale these ops are bound by exactly that,
so each pinned count is the op's current count plus 2: a change that adds
jobs to the serving path fails here before it shows in the benchmark."""

from __future__ import annotations

import pyspark.sql.functions as F

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
