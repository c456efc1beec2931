"""UDF surface (SURVEY.md §2b: udf_python, udf_pandas_scalar,
udf_pandas_grouped_agg, udtf_explode).

The reference's only per-row compute is prepare_row's Python loop
(/root/reference/main.py:81-104); this module is its engine-side analog —
with the explicit design stance that UDFs are the SLOW path (SURVEY.md §4):
every op here has a pure-built-in equivalent, and the docstrings say what
it is. The UDF versions exist because a complete engine must let users run
arbitrary Python, and the right way to do that at 100 TB is:

- Arrow-vectorized pandas UDFs (10-100× over row-at-a-time: one
  Python↔JVM round trip per batch, columnar both sides), never @udf in a
  hot path;
- grouped-agg pandas UDFs instead of collect-and-loop;
- Python UDTFs only for genuinely table-generating Python logic —
  explode(split(...)) stays JVM-side otherwise.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf, udf, udtf

from sqlite_to_clickhouse_spark.io import table
from sqlite_to_clickhouse_spark.operators.text import _tokens
from sqlite_to_clickhouse_spark.registry import register


@register(
    "udf_python",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice IS NULL  THEN NULL
                WHEN o_totalprice < 50000  THEN 'small'
                WHEN o_totalprice < 150000 THEN 'medium'
                ELSE 'large' END AS price_band
    FROM orders
    """,
    tags=("udf",),
)
def udf_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar row-at-a-time Python UDF (price banding).

    Covers the @udf API. Production note: this exact logic is a CASE WHEN
    (fn_conditional) and belongs JVM-side — a row UDF serializes every row
    through Python and blocks whole-stage codegen; at 100 TB that is the
    difference between a codegen'd scan and a Python bottleneck.
    """

    @udf(returnType=T.StringType())
    def price_band(p: float) -> str:
        if p is None:  # row UDFs receive SQL NULL as None — pass it through
            return None
        if p < 50000:
            return "small"
        if p < 150000:
            return "medium"
        return "large"

    o = table(spark, sf_dir, "orders")
    return o.select("o_orderkey", price_band("o_totalprice").alias("price_band"))


@register(
    "udf_pandas_scalar",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           FLOOR(l_extendedprice * (1 - l_discount) * 100) / 100 AS net_price
    FROM lineitem
    """,
    tags=("udf",),
)
def udf_pandas_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-vectorized scalar pandas UDF (Series→Series net price).

    One Arrow batch per Python round trip, numpy-vectorized inside — the
    acceptable shape for custom Python math. The floor-quantization keeps
    the doubles bit-comparable with the oracle (see project_computed).
    """

    @pandas_udf(T.DoubleType())
    def net_price(price: pd.Series, discount: pd.Series) -> pd.Series:
        import numpy as np

        return np.floor(price * (1.0 - discount) * 100.0) / 100.0

    li = table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        net_price("l_extendedprice", "l_discount").alias("net_price"),
    )


@register(
    "udf_pandas_grouped_agg",
    oracle="""
    SELECT l_returnflag,
           ROUND(SUM(l_extendedprice * l_quantity) / SUM(l_quantity), 6)
             AS wavg_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("udf",),
)
def udf_pandas_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate pandas UDF: quantity-weighted mean price per flag.

    The UDAF path for custom Python aggregates: Spark shuffles by key,
    hands each group to Python as Arrow-backed Series, gets one scalar
    back. Partial aggregation is NOT available to Python UDAFs (the whole
    group crosses the boundary), so built-in sum()/count() composition is
    still preferred when expressible — as the oracle shows it is here.
    """

    @pandas_udf(T.DoubleType())
    def wavg(price: pd.Series, qty: pd.Series) -> float:
        return float(round((price * qty).sum() / qty.sum(), 6))

    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        wavg("l_extendedprice", "l_quantity").alias("wavg_price")
    )


@register(
    "udtf_explode",
    oracle="""
    SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> ''))
             AS token
    FROM documents
    """,
    tags=("udf", "udtf"),
)
def udtf_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-generating Python UDTF: one (doc_id, token) row per token.

    Covers the Spark 3.5+/4.x @udtf lateral-join API. Production note: a
    pure tokenize-explode is explode(split(...)) — JVM-side, codegen'd
    (see text_tokens); a Python UDTF earns its cost only when the 1→N
    expansion logic itself needs Python.
    """

    @udtf(returnType="token: string")
    class Tokenize:
        def eval(self, text: str):
            if text:
                for tok in text.split(" "):
                    if tok:
                        yield (tok,)

    d = table(spark, sf_dir, "documents")
    return d.lateralJoin(Tokenize(F.col("text").outer()).alias("t")).select(
        "doc_id", "t.token"
    )


@register(
    "udtf_posexplode",
    oracle="""
    SELECT doc_id,
           unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS token,
           unnest(range(1, len(list_filter(string_split(text, ' '), t -> t <> '')) + 1))
               AS pos
    FROM documents
    """,
    tags=("udf", "udtf"),
)
def udtf_posexplode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional explode (the generator the @udtf above generalizes):
    one (doc_id, token, 1-based position) row per token, entirely JVM-side
    — posexplode is a codegen'd generator, the fast path for ordinal
    flattening (CH arrayJoin + arrayEnumerate)."""
    d = table(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    return d.select(
        "doc_id", F.posexplode(toks).alias("pos0", "token")
    ).select("doc_id", "token", (F.col("pos0") + 1).alias("pos"))


@register(
    "udf_pandas_cogrouped",
    oracle="""
    SELECT o.o_orderkey,
           count(l.l_orderkey) AS n_lines,
           coalesce(sum(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 100)), 0) / 100
               AS line_revenue
    FROM orders o LEFT JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderkey
    """,
    tags=("udf", "pandas"),
)
def udf_pandas_cogrouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped applyInPandas (the two-table Arrow surface): orders and
    lineitem cogrouped on a HASH BUCKET of the order key, one pandas merge
    per bucket. Both sides shuffle once on the cogroup key; each Python
    call sees the two aligned batches and vectorizes the per-order merge
    with a pandas groupby inside the bucket. Cogrouping on the raw order
    key is the naive spelling — one Python invocation PER KEY (150 k calls
    at sf0.1, 52 s of pure call overhead; unbounded at corpus scale) —
    while the bucket key keeps the Python-call count fixed at the bucket
    count and scales group size with data, which is the only deployable
    shape for cogrouped model scoring over joined panels. Bucket count
    derives from the parquet footer row count so groups stay
    memory-bounded as the input grows. The pure-SQL equivalent is the
    left-join aggregate the oracle states; results are identical for any
    bucket count. xxhash64 on both sides routes an order's header and its
    lines to the same bucket."""
    import pandas as pd
    import pyarrow.parquet as pq

    o = table(spark, sf_dir, "orders").select("o_orderkey")
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    n_orders = pq.ParquetFile(f"{sf_dir}/orders.parquet").metadata.num_rows
    n_buckets = min(max(n_orders // 2000, 64), 65536)
    ob = o.withColumn("bkt", F.pmod(F.xxhash64("o_orderkey"), F.lit(n_buckets)))
    lb = li.withColumn("bkt", F.pmod(F.xxhash64("l_orderkey"), F.lit(n_buckets)))

    def merge(key, o_pdf: pd.DataFrame, l_pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        # Floor each line to cents BEFORE summing: per-term IEEE products
        # are bit-identical across engines and cent-integers sum exactly,
        # so the result is independent of row/partition order. Flooring
        # (or rounding) AFTER a float sum is knife-edge nondeterministic.
        cents = np.floor(
            (l_pdf["l_extendedprice"] * (1 - l_pdf["l_discount"])).to_numpy() * 100
        )
        lines = pd.DataFrame(
            {"o_orderkey": l_pdf["l_orderkey"], "cents": cents}
        ).groupby("o_orderkey", sort=False)
        # sum() skips NaN like SQL's SUM skips NULL terms (an all-NULL
        # group sums to 0, matching the oracle's coalesce); size() counts
        # joined rows like count(l.l_orderkey).
        agg = pd.DataFrame(
            {"n_lines": lines.size(), "line_revenue": lines["cents"].sum() / 100.0}
        )
        out = o_pdf[["o_orderkey"]].merge(
            agg, left_on="o_orderkey", right_index=True, how="left"
        )
        out["n_lines"] = out["n_lines"].fillna(0).astype("int64")
        out["line_revenue"] = out["line_revenue"].fillna(0.0)
        return out

    return (
        ob.groupBy("bkt")
        .cogroup(lb.groupBy("bkt"))
        .applyInPandas(merge, "o_orderkey long, n_lines long, line_revenue double")
    )


@register(
    "udf_map_in_arrow",
    oracle="""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT)
               AS n_spaces,
           CAST(strlen(text) AS BIGINT) AS n_bytes
    FROM documents
    """,
    tags=("udf", "arrow"),
)
def udf_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-Arrow batch transform via ``mapInArrow`` — the lowest-overhead
    Python escape hatch: no pandas materialization at all, each partition
    streams ``pyarrow.RecordBatch`` objects through vectorized
    ``pyarrow.compute`` kernels (C++ SIMD, zero Python per-row work).
    This is the shape for binary/tensor payloads where pandas object
    boxing dominates (the multimodal family uses mapInPandas for its
    dict-row ergonomics; this op covers the API tier below it).

    Built-in equivalent (the fast path, SURVEY §4): ``F.length`` /
    ``F.octet_length`` / a replace-diff — kept as the oracle, so the
    differential gate proves the Arrow kernels match Catalyst exactly.
    Batch shape: one output batch per input batch, schema declared up
    front; partition-local, zero shuffle."""
    import pyarrow as pa
    import pyarrow.compute as pc

    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("n_chars", T.LongType()),
            T.StructField("n_spaces", T.LongType()),
            T.StructField("n_bytes", T.LongType()),
        ]
    )

    def stats_batches(batches):
        for b in batches:
            text = b.column(b.schema.get_field_index("text"))
            n_chars = pc.utf8_length(text)
            n_spaces = pc.count_substring(text, " ")
            n_bytes = pc.binary_length(text.cast(pa.binary()))
            yield pa.RecordBatch.from_arrays(
                [
                    b.column(b.schema.get_field_index("doc_id")).cast(pa.int64()),
                    n_chars.cast(pa.int64()),
                    n_spaces.cast(pa.int64()),
                    n_bytes.cast(pa.int64()),
                ],
                names=["doc_id", "n_chars", "n_spaces", "n_bytes"],
            )

    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    return d.mapInArrow(stats_batches, out_schema)
