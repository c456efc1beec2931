"""Deterministic sampling / dataset-split operators.

Training-data pipelines need *reproducible* splits: the same document must
land in the same split on every run, on any cluster size, with no RNG state
to ship around. Hash-based assignment gives that for free — split is a pure
function of the key, so it's stable under retries, repartitioning, and
incremental appends (new docs don't reshuffle old ones, unlike
`df.randomSplit`, whose assignment depends on partition layout).

The md5-hex trick: the first two hex chars of md5(key) are a uniform value
in '00'..'ff', and hex strings compare lexicographically in numeric order
('9' < 'a' in ASCII), so plain string thresholds carve exact /256 fractions
identically in any engine that has md5 — which is what makes these ops
oracle-checkable bit-for-bit against DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sqlite_to_clickhouse_spark.io import table
from sqlite_to_clickhouse_spark.operators.text import _tokens
from sqlite_to_clickhouse_spark.registry import register

# 204/256 = 79.7% train, 26/256 = 10.2% val, 26/256 = 10.2% test.
_TRAIN_HI = "cc"
_VAL_HI = "e6"

_SPLIT_ORACLE = f"""
    WITH tagged AS (
        SELECT n_chars,
               CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '{_TRAIN_HI}'
                        THEN 'train'
                    WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '{_VAL_HI}'
                        THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    )
    SELECT split,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM tagged
    GROUP BY split
"""


@register("split_train_holdout", oracle=_SPLIT_ORACLE, tags=("sampling", "llm"))
def split_train_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~80/10/10 train/val/test assignment by md5(doc_id) prefix, with
    per-split doc and char counts. Pure projection + tiny 3-key aggregate:
    no shuffle of the corpus itself, no RNG, append-stable — the split of
    an existing doc never changes when new data arrives."""
    d = table(spark, sf_dir, "documents")
    h2 = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    split = (
        F.when(h2 < _TRAIN_HI, "train").when(h2 < _VAL_HI, "val").otherwise("test")
    )
    return (
        d.select(split.alias("split"), "n_chars")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
    )


_SAMPLE_ORACLE = """
    SELECT l_returnflag,
           count(*) AS n_sampled,
           round(avg(l_extendedprice), 2) AS avg_price
    FROM lineitem
    WHERE substr(md5(CAST(l_orderkey AS VARCHAR) || '-'
                     || CAST(l_linenumber AS VARCHAR)), 1, 2) < '1a'
    GROUP BY l_returnflag
"""


@register("sample_deterministic", oracle=_SAMPLE_ORACLE, tags=("sampling",))
def sample_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~10% deterministic row sample (26/256) by md5 of the composite key,
    then a per-flag summary. The filter is a scan-side projection predicate
    — at 100 TB this is the cheap way to get a reproducible dev slice
    without TABLESAMPLE's partition-dependent nondeterminism."""
    li = table(spark, sf_dir, "lineitem")
    key = F.concat(
        F.col("l_orderkey").cast("string"),
        F.lit("-"),
        F.col("l_linenumber").cast("string"),
    )
    return (
        li.filter(F.substring(F.md5(key), 1, 2) < "1a")
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_sampled"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
        )
    )


_PIPELINE_ORACLE = """
    WITH scored AS (
        SELECT doc_id, lang, n_chars, md5(text) AS h,
               len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_tok,
               round(CAST(len(list_distinct(list_filter(string_split(text, ' '),
                                                        t -> t <> ''))) AS DOUBLE)
                     / GREATEST(len(list_filter(string_split(text, ' '), t -> t <> '')), 1),
                     6) AS distinct_ratio
        FROM documents
    ),
    filtered AS (
        SELECT * FROM scored WHERE n_tok >= 15 AND distinct_ratio >= 0.35
    ),
    deduped AS (
        SELECT * FROM filtered
        WHERE doc_id IN (SELECT min(doc_id) FROM filtered GROUP BY h)
    ),
    split_assigned AS (
        SELECT *,
               CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
                    WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
                    ELSE 'test' END AS split
        FROM deduped
    )
    SELECT split, lang,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           round(avg(distinct_ratio), 6) AS avg_distinct_ratio
    FROM split_assigned
    GROUP BY split, lang
"""


@register("pipeline_corpus_clean", oracle=_PIPELINE_ORACLE, tags=("llm", "pipeline"))
def pipeline_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data prep pipeline in one plan: quality
    filter (token floor + lexical-diversity floor) → exact content dedup
    (keep lowest doc_id per md5) → hash-stable split assignment →
    per-(split, lang) corpus stats. Every stage is the registered
    standalone operator's expression, fused — Catalyst collapses the
    quality projections into the scan, the dedup is the only wide
    shuffle, and the split/stats ride a tiny 15-key aggregate. The
    near-dup collapse (minhash → connected components) runs as its own
    job upstream in a real pipeline; see dedup_connected_components."""
    d = table(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    n_tok = F.size(toks)
    dr = F.round(
        F.size(F.array_distinct(toks)).cast("double")
        / F.greatest(n_tok, F.lit(1)),
        6,
    )
    scored = d.select(
        "doc_id", "lang", "n_chars",
        F.md5("text").alias("h"),
        n_tok.alias("n_tok"),
        dr.alias("distinct_ratio"),
    ).filter((F.col("n_tok") >= 15) & (F.col("distinct_ratio") >= 0.35))
    w = Window.partitionBy("h")
    deduped = (
        scored.withColumn("keep_id", F.min("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("keep_id"))
    )
    h2 = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    split = F.when(h2 < "cc", "train").when(h2 < "e6", "val").otherwise("test")
    return (
        deduped.withColumn("split", split)
        .groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
            F.round(F.avg("distinct_ratio"), 6).alias("avg_distinct_ratio"),
        )
    )


@register(
    "sample_stratified_hash",
    oracle="""
    SELECT doc_id, lang
    FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
          < CASE lang WHEN 'en' THEN '1a' ELSE '80' END
    """,
    tags=("sampling", "llm"),
)
def sample_stratified_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling: per-stratum rates via a hash
    threshold (en downsampled to ~10%, other languages kept at ~50%) —
    the data-mixture rebalancing step of corpus curation. Hash-threshold
    sampling beats rand()-based sampleBy at scale: reproducible across
    retries/engines, stable under repartitioning, and a pure scan-side
    filter (no shuffle, no RNG state). Rates are hex-prefix thresholds:
    '1a'/256 ~ 0.102, '80'/256 = 0.5."""
    d = table(spark, sf_dir, "documents")
    h2 = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    thresh = F.when(F.col("lang") == "en", "1a").otherwise("80")
    return d.filter(h2 < thresh).select("doc_id", "lang")


_PACK_SIZE = 2048

_PACK_ORACLE = f"""
    WITH counted AS (
        SELECT doc_id, lang,
               len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_tok
        FROM documents
    ),
    packed AS (
        SELECT doc_id, lang, n_tok,
               CAST(FLOOR(COALESCE(sum(n_tok) OVER (
                   PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   / {_PACK_SIZE}) AS BIGINT) AS pack_id
        FROM counted
    )
    SELECT lang, pack_id,
           count(*)          AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS pack_tokens,
           min(doc_id)       AS first_doc
    FROM packed
    GROUP BY lang, pack_id
"""


@register("pipeline_pack_sequences", oracle=_PACK_ORACLE, tags=("llm", "pipeline"))
def pipeline_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing for LLM pretraining batches: documents are
    laid end-to-end per language shard (ordered by doc_id for
    reproducibility) and cut into ~2048-token packs — pack_id is the
    trailing cumulative token count div the context size, so a document
    lands in the pack where its first token falls (documents straddle
    boundaries; the trainer's loader handles the tail split). One
    window shuffle on lang + a tiny grouped agg; the cumulative sum is
    exact-integer so the assignment is engine-identical. At 100 TB the
    per-lang global order becomes per-(lang, shard-range) order — the
    window spec gains a second partition key, nothing else changes."""
    d = table(spark, sf_dir, "documents")
    n_tok = F.size(_tokens(F.col("text")))
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = d.select("doc_id", "lang", n_tok.alias("n_tok")).withColumn(
        "pack_id",
        F.floor(F.coalesce(F.sum("n_tok").over(w), F.lit(0)) / _PACK_SIZE).cast(
            "long"
        ),
    )
    return packed.groupBy("lang", "pack_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("pack_tokens"),
        F.min("doc_id").alias("first_doc"),
    )


# Temperature-sampling parameters: alpha=0.5 source reweighting (the
# multilingual/multi-source rebalancing exponent), target corpus = half the
# input. Thresholds are derived in EXACT integer arithmetic (isqrt + integer
# div) so both engines compute bit-identical keep sets — no libm pow() in
# the decision path.
_TEMP_TARGET_DEN = 2  # target size = total_docs / 2


@register(
    "sample_temperature",
    oracle=f"""
    WITH counts AS (
      SELECT lang, COUNT(*) AS cnt,
             CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT) AS isq
      FROM documents GROUP BY lang
    ),
    tot AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS n_total,
             CAST(SUM(isq) AS BIGINT) AS sum_isq
      FROM counts
    ),
    thresh AS (
      SELECT c.lang, c.cnt,
             LEAST(4294967296,
                   (4294967296 * (t.n_total // {_TEMP_TARGET_DEN}) * c.isq)
                     // (t.sum_isq * c.cnt)) AS keep_below
      FROM counts c, tot t
    )
    SELECT d.lang,
           CAST(MIN(th.cnt) AS BIGINT)  AS n_orig,
           CAST(MIN(th.keep_below) AS BIGINT) AS keep_below,
           CAST(COUNT(*) FILTER (
             CAST(('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               < th.keep_below) AS BIGINT) AS n_kept
    FROM documents d JOIN thresh th USING (lang)
    GROUP BY d.lang
    """,
    tags=("sampling", "llm"),
)
def sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source rebalancing (the multi-source data-recipe
    op: upweight small sources, downweight huge ones with an alpha=0.5
    exponent, then hash-threshold sample each source to hit a global
    budget of 1/{_TEMP_TARGET_DEN} of the corpus).

    Per-source keep probability p_s = T·√cnt_s / (Σ√cnt · cnt_s) is
    materialized as an integer threshold keep_below = ⌊2³²·p_s⌋ computed
    entirely in BIGINT arithmetic (isqrt is exact; no libm pow in the
    decision path), and a doc survives iff its 32-bit md5 prefix is below
    its language's threshold — deterministic, append-stable, identical in
    any engine with md5. Plan: one tiny per-language count aggregate,
    thresholds broadcast back onto the scan, one filter — the corpus
    itself is never shuffled. Output is the per-language audit table
    (original count, threshold, kept count)."""
    d = table(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("cnt"))
    counts = counts.withColumn(
        "isq", F.floor(F.sqrt(F.col("cnt"))).cast("long")
    )
    tot = counts.agg(
        F.sum("cnt").cast("long").alias("n_total"),
        F.sum("isq").cast("long").alias("sum_isq"),
    )
    # Integer-exact threshold: (2^32 * (n_total // DEN) * isq) // (sum_isq * cnt)
    thresh = counts.crossJoin(F.broadcast(tot)).select(
        "lang",
        "cnt",
        F.least(
            F.lit(4294967296).cast("long"),
            F.expr(
                f"(4294967296 * (n_total div {_TEMP_TARGET_DEN}) * isq)"
                f" div (sum_isq * cnt)"
            ),
        ).alias("keep_below"),
    )
    u32 = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
        "long"
    )
    return (
        d.join(F.broadcast(thresh), "lang")
        .groupBy("lang")
        .agg(
            F.min("cnt").cast("long").alias("n_orig"),
            F.min("keep_below").cast("long").alias("keep_below"),
            F.sum((u32 < F.col("keep_below")).cast("long")).cast("long").alias("n_kept"),
        )
    )


_DOMAIN_MIX_ORACLE = """
    WITH quota AS (
        SELECT CAST(CEIL(0.4 * count(*) / count(DISTINCT source)) AS BIGINT)
                   AS q
        FROM documents
    ),
    ranked AS (
        SELECT doc_id, source,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS mix_rank
        FROM documents
    )
    SELECT r.doc_id, r.source, CAST(r.mix_rank AS BIGINT) AS mix_rank
    FROM ranked r, quota WHERE r.mix_rank <= quota.q
"""


@register("sample_domain_mix", oracle=_DOMAIN_MIX_ORACLE, tags=("sampling", "llm"))
def sample_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture quota sampling: cap every source at an equal share of
    a 40 % corpus budget (uniform target mixture — the knob a pretraining
    pipeline turns when one crawl dominates the corpus). Per-source quota
    = ceil(0.4·N/S) is an in-plan broadcast scalar (count + countDistinct,
    never a driver collect); which docs fill the quota is decided by
    md5-hash order with doc_id tiebreak, so the selection is reproducible
    under repartitioning and append-stable for existing docs — the same
    properties as the split/sample ops above. One shuffle (window by
    source); sources are few, so AQE's skew split handles a hot domain."""
    d = table(spark, sf_dir, "documents")
    quota = d.agg(
        F.ceil(0.4 * F.count(F.lit(1)) / F.countDistinct("source")).alias("q")
    )
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        d.select("doc_id", "source")
        .withColumn("mix_rank", F.row_number().over(w).cast("long"))
        .crossJoin(F.broadcast(quota))
        .filter(F.col("mix_rank") <= F.col("q"))
        .select("doc_id", "source", "mix_rank")
    )


_EPOCH_BUDGET_X = 2  # total post-mix budget as a multiple of the corpus


@register(
    "sample_mix_epochs",
    oracle=f"""
    WITH counts AS (
        SELECT source, CAST(count(*) AS BIGINT) AS cnt
        FROM documents GROUP BY source
    ),
    tot AS (
        SELECT CAST(sum(cnt) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS s
        FROM counts
    ),
    plan AS (
        SELECT c.source, c.cnt,
               (({_EPOCH_BUDGET_X} * t.n // t.s) // c.cnt)           AS base_epochs,
               ((({_EPOCH_BUDGET_X} * t.n // t.s) % c.cnt) * 4294967296)
                   // c.cnt                                          AS extra_below
        FROM counts c, tot t
    )
    SELECT d.doc_id, d.source,
           CAST(unnest(range(p.base_epochs +
             CASE WHEN CAST(('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))
                       AS BIGINT) < p.extra_below THEN 1 ELSE 0 END))
             AS BIGINT) AS epoch
    FROM documents d JOIN plan p USING (source)
    """,
    tags=("sampling", "llm"),
)
def sample_mix_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fractional-epoch upsampling — the other half of domain mixing
    (sample_domain_mix caps oversized sources; this replicates
    undersized ones): every source gets an equal slice of a
    {_EPOCH_BUDGET_X}× corpus budget, so a source with cnt docs is
    repeated target/cnt ≈ e.g. 2.3 epochs — each doc appears
    ⌊2.3⌋ = 2 times, and a deterministic 30 % of docs (32-bit md5
    prefix below a threshold) appear a third time. This is the recipe
    step LLM pretraining mixes use to hit target domain weights when a
    domain is smaller than its weight demands.

    Integer-exact plan: per-source counts (tiny aggregate) → base epochs
    and the extra-copy hash threshold in pure BIGINT arithmetic (no
    float rounding to disagree across engines) → broadcast back onto
    the scan → ``explode(sequence(...))`` materializes the copies.
    The corpus is never shuffled: replication happens in-place per
    partition, output size = Σ copies (that's the job, not overhead).
    Determinism caveat (weaker than the split/sample family's
    append-stability, deliberately): which docs get the extra copy is a
    pure hash gate — stable under row order, partitioning, and re-runs —
    but the thresholds themselves are DATA-DEPENDENT (source counts set
    base epochs and the fractional remainder), so appending docs can
    legitimately shift every doc's epoch count. That is the semantics a
    mixture target demands; pin the plan table from a fixed corpus
    snapshot when byte-stable re-materialization matters."""
    d = table(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    tot = counts.agg(
        F.sum("cnt").cast("long").alias("n"), F.count(F.lit(1)).cast("long").alias("s")
    )
    plan = counts.crossJoin(F.broadcast(tot)).select(
        "source",
        F.expr(f"(({_EPOCH_BUDGET_X} * n div s) div cnt)").alias("base_epochs"),
        F.expr(
            f"((({_EPOCH_BUDGET_X} * n div s) % cnt) * 4294967296) div cnt"
        ).alias("extra_below"),
    )
    u32 = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
        "long"
    )
    n_copies = F.col("base_epochs") + (u32 < F.col("extra_below")).cast("long")
    # Spark's sequence(0, -1) yields a DESCENDING [0, -1], not empty —
    # guard the zero-copy case explicitly so it matches range(0) = ∅.
    epochs = F.when(
        n_copies > 0, F.sequence(F.lit(0).cast("long"), n_copies - 1)
    ).otherwise(F.array().cast("array<long>"))
    return (
        d.select("doc_id", "source")
        .join(F.broadcast(plan), "source")
        .select("doc_id", "source", F.explode(epochs).alias("epoch"))
    )


_DQ_COLS = (
    "o_orderkey",
    "o_custkey",
    "o_orderdate",
    "o_orderpriority",
    "o_orderstatus",
    "o_totalprice_c",
)


def _dq_oracle() -> str:
    per_col = " UNION ALL ".join(
        f"""
        SELECT '{c}' AS column_name,
               CAST(COUNT(*) AS BIGINT)                    AS n,
               CAST(COUNT(*) - COUNT({c}) AS BIGINT)       AS n_null,
               CAST(COUNT(DISTINCT {c}) AS BIGINT)         AS n_distinct,
               CAST(MIN({c}) AS VARCHAR)                   AS min_s,
               CAST(MAX({c}) AS VARCHAR)                   AS max_s
        FROM t"""
        for c in _DQ_COLS
    )
    return f"""
    WITH t AS (
      SELECT o_orderkey, o_custkey, o_orderdate, o_orderpriority,
             o_orderstatus,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS o_totalprice_c
      FROM orders
    )
    {per_col}
    """


@register("pipeline_data_quality", oracle=_dq_oracle(), tags=("pipeline",))
def pipeline_data_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-profile quality gate over the orders table — the dbt-test /
    Deequ-style stats a pipeline asserts before training or publishing:
    per column, row count, NULL count, exact distinct count, and
    stringified min/max.  One row per profiled column, all-scalar.

    Shapes that matter at 100 TB:
    - ONE scan feeds every statistic: all 6×4 aggregates ride a single
      global aggregation. The multiple exact COUNT(DISTINCT)s make
      Catalyst plan an Expand (each input row fans to one row per
      distinct aggregate) — a 6× map-side multiplication traded for
      single-pass I/O, the standard engine answer; swap in
      approx_count_distinct per column when exactness isn't contractual
      (agg_approx_distinct is the certified analog).
    - The money column profiles in exact 10^-2-dollar integer units
      (the revenue_e4 pattern): a double min/max stringifies
      differently across engines ('1.5E4' vs '15000.0'), a BIGINT is
      format-stable.
    - min/max of the date and text columns stringify to ISO dates /
      binary-collation strings, identical in both engines.
    """
    o = table(spark, sf_dir, "orders")
    cols = [
        ("o_orderkey", F.col("o_orderkey")),
        ("o_custkey", F.col("o_custkey")),
        ("o_orderdate", F.col("o_orderdate")),
        ("o_orderpriority", F.col("o_orderpriority")),
        ("o_orderstatus", F.col("o_orderstatus")),
        ("o_totalprice_c", F.round(F.col("o_totalprice") * 100).cast("long")),
    ]
    aggs = [F.count(F.lit(1)).alias("n")]
    for name, c in cols:
        aggs += [
            F.count(c).alias(f"cnt_{name}"),
            F.count_distinct(c).alias(f"dst_{name}"),
            F.min(c).cast("string").alias(f"min_{name}"),
            F.max(c).cast("string").alias(f"max_{name}"),
        ]
    row = o.agg(*aggs)
    profile = F.array(
        *[
            F.struct(
                F.lit(name).alias("column_name"),
                F.col("n").alias("n"),
                (F.col("n") - F.col(f"cnt_{name}")).alias("n_null"),
                F.col(f"dst_{name}").alias("n_distinct"),
                F.col(f"min_{name}").alias("min_s"),
                F.col(f"max_{name}").alias("max_s"),
            )
            for name, _ in cols
        ]
    )
    return row.select(F.explode(profile).alias("s")).select("s.*")


QUOTA_PER_GROUP = 50


@register(
    "sample_exact_quota",
    oracle=f"""
    SELECT doc_id, lang, rk FROM (
      SELECT doc_id, lang,
             CAST(row_number() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS BIGINT) AS rk
      FROM documents
    ) WHERE rk <= {QUOTA_PER_GROUP}
    """,
    tags=("sampling", "llm"),
)
def sample_exact_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-quota stratified sampling: EXACTLY min(quota, |group|) docs
    per language, chosen by a deterministic hash order — the "cap every
    domain at N documents" mixing primitive.  Differs from
    sample_stratified_hash (per-row Bernoulli at a rate: quota only in
    expectation) and from plain topk_per_group (rank by a DATA column:
    biased): hashing the key gives an unbiased pseudo-random draw that
    is reproducible across engines, retries, and partitionings.

    Scale shape: one shuffle on the group key, per-partition sorted rank
    scan, no group materialization.  Skew note: a giant group costs one
    task's SORT of its rows (not its pairs); at 100 TB pre-prune with a
    per-partition LIMIT-quota (any partial top-quota by hash is a
    superset of the global one) — the standard TakeOrdered-per-group
    refinement, documented rather than wired because bench groups are
    language-sized.
    """
    d = table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        d.select("doc_id", "lang", F.row_number().over(w).cast("long").alias("rk"))
        .filter(F.col("rk") <= QUOTA_PER_GROUP)
    )


# Epoch cap for undersized sources (the PaLM/Llama "no source repeats more
# than a few times" rule). Integer so the capped branch stays BIGINT-exact.
_MIX_MAX_EPOCHS = 3

_MIXTURE_ORACLE = f"""
    WITH per_source AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(len(list_filter(string_split(text, ' '),
                                        t -> t <> ''))) AS BIGINT) AS n_tokens
        FROM documents
        GROUP BY source
    ),
    tot AS (
        SELECT CAST(sum(n_tokens) AS BIGINT) AS total,
               CAST(count(*) AS BIGINT) AS s
        FROM per_source
    ),
    plan AS (
        SELECT p.source, p.n_docs, p.n_tokens,
               least({_MIX_MAX_EPOCHS} * p.n_tokens, t.total // t.s)
                   AS realized_tokens,
               t.total AS total, t.s AS s
        FROM per_source p CROSS JOIN tot t
    )
    SELECT source, n_docs, n_tokens,
           ROUND(CAST(n_tokens AS DOUBLE) / total, 6) AS natural_share,
           ROUND(1.0 / s, 6) AS target_share,
           realized_tokens,
           (realized_tokens < total // s) AS capped,
           ROUND(CAST(realized_tokens AS DOUBLE) / n_tokens, 6) AS epochs,
           ROUND(CAST(realized_tokens AS DOUBLE)
                 / (SELECT CAST(sum(realized_tokens) AS BIGINT) FROM plan), 6)
               AS realized_share
    FROM plan
"""


@register("sample_mixture_weights", oracle=_MIXTURE_ORACLE, tags=("llm", "sampling"))
def sample_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mixture PLAN itself — the per-source token-weighted sampling
    table a pretraining run is configured from (sample_domain_mix caps
    doc counts, sample_mix_epochs replicates docs; this op computes the
    token-denominated weights both of those would be driven by at
    production scale): uniform token target per source, epochs capped at
    {_MIX_MAX_EPOCHS}× so an undersized source is never repeated past the
    memorization guard, realized shares renormalized over the capped plan.

    Every share-bearing number is derived from BIGINT-exact intermediates
    — realized_tokens = least(cap·n_tokens, total div S) stays integer on
    both engines, so the only float ops are final single divisions,
    rounded to 6 dp (the fold-order-free float recipe the gate requires).
    One groupBy(source) shuffle over the corpus; everything after runs on
    the S-row plan relation (broadcast scalars, no driver collect)."""
    d = table(spark, sf_dir, "documents")
    toks = F.size(_tokens(F.col("text")))
    per_source = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(toks).cast("long").alias("n_tokens"),
    )
    tot = per_source.agg(
        F.sum("n_tokens").cast("long").alias("total"),
        F.count(F.lit(1)).alias("s"),
    )
    plan = per_source.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.least(
            F.lit(_MIX_MAX_EPOCHS) * F.col("n_tokens"),
            F.expr("total div s"),
        ).alias("realized_tokens"),
        "total",
        "s",
    )
    grand = plan.agg(
        F.sum("realized_tokens").cast("long").alias("grand_realized")
    )
    return plan.crossJoin(F.broadcast(grand)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_tokens") / F.col("total"), 6).alias("natural_share"),
        F.round(F.lit(1.0) / F.col("s"), 6).alias("target_share"),
        "realized_tokens",
        (F.col("realized_tokens") < F.expr("total div s")).alias("capped"),
        F.round(F.col("realized_tokens") / F.col("n_tokens"), 6).alias("epochs"),
        F.round(F.col("realized_tokens") / F.col("grand_realized"), 6).alias(
            "realized_share"
        ),
    )


_TOKEN_QUOTA_ORACLE = """
    WITH sized AS (
        SELECT doc_id, source,
               CAST(len(list_filter(string_split(text, ' '), t -> t <> ''))
                    AS BIGINT) AS n_tokens
        FROM documents
    ),
    tot AS (
        SELECT CAST(sum(n_tokens) AS BIGINT) // count(DISTINCT source) AS quota
        FROM sized
    ),
    running AS (
        SELECT doc_id, source, n_tokens,
               CAST(sum(n_tokens) OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS BIGINT) AS cum_tokens
        FROM sized
    )
    SELECT doc_id, source, n_tokens, cum_tokens
    FROM running, tot
    WHERE cum_tokens - n_tokens < tot.quota
"""


@register("sample_token_quota", oracle=_TOKEN_QUOTA_ORACLE, tags=("llm", "sampling"))
def sample_token_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EXECUTION of sample_mixture_weights' plan: fill each source's
    uniform TOKEN budget (total tokens div n_sources) by taking documents
    in md5-hash order until the budget is crossed — the doc that crosses
    the line is kept (standard fill-then-stop), docs after it drop. Hash
    order makes the selection reproducible across engines, retries, and
    partitionings, and append-stable for already-selected docs — the
    same properties as every split/sample op in this module, now at
    token (not document) granularity.

    One window cumsum per source over the hash ordering + a broadcast
    scalar quota — a single user-visible shuffle on source; the quota
    condition compares BIGINT-exact cumulative sums, so the gate never
    touches a float."""
    d = table(spark, sf_dir, "documents")
    sized = d.select(
        "doc_id",
        "source",
        F.size(_tokens(F.col("text"))).cast("long").alias("n_tokens"),
    )
    quota = sized.agg(
        F.expr("CAST(sum(n_tokens) AS BIGINT) div count(DISTINCT source)").alias(
            "quota"
        )
    )
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    running = sized.withColumn("cum_tokens", F.sum("n_tokens").over(w).cast("long"))
    return (
        running.crossJoin(F.broadcast(quota))
        .filter(F.col("cum_tokens") - F.col("n_tokens") < F.col("quota"))
        .select("doc_id", "source", "n_tokens", "cum_tokens")
    )
