"""Session defaults: the shuffle width follows the host."""

from __future__ import annotations

from sqlite_to_clickhouse_spark.session import get_spark

_KEY = "spark.sql.shuffle.partitions"


def test_shuffle_width_is_default_parallelism_unless_given(spark):
    s = get_spark()
    assert s.conf.get(_KEY) == str(s.sparkContext.defaultParallelism)
    try:
        assert get_spark(extra_conf={_KEY: "7"}).conf.get(_KEY) == "7"
    finally:
        get_spark()
    assert s.conf.get(_KEY) == str(s.sparkContext.defaultParallelism)
