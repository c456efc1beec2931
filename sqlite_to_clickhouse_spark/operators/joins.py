"""Join operators (SURVEY.md §2b: joins).

The reference (/root/reference/main.py) issues no joins at all — grep-verified
in SURVEY.md §2a — so this family is part of the declared ClickHouse-class
capability surface. Every join here is declarative so Catalyst picks the
physical strategy (broadcast-hash for dims under the threshold, sort-merge /
shuffled-hash otherwise, AQE skew-split at runtime).

Scale notes (100 TB): the fact side (lineitem/orders/events) never
broadcasts; dimension tables (region/nation/customer/supplier/part) always
should — `broadcast()` hints where the stats aren't obvious. The as-of join
deliberately avoids the O(matches) join-then-reduce shape: it is a single
shuffle on the key with a window scan (sort-merge as-of), which survives an
arbitrarily large right side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sqlite_to_clickhouse_spark.io import staged, table
from sqlite_to_clickhouse_spark.registry import register


@register(
    "join_inner_hash",
    oracle="""
    SELECT o.o_orderkey, o.o_orderdate, o.o_totalprice, c.c_name, c.c_mktsegment
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'BUILDING'
    """,
    tags=("join",),
)
def join_inner_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi inner join orders⨝customer; planner picks broadcast/SMJ."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    return o.join(c, o.o_custkey == c.c_custkey, "inner").select(
        "o_orderkey", "o_orderdate", "o_totalprice", "c_name", "c_mktsegment"
    )


@register(
    "join_broadcast",
    oracle="""
    SELECT n.n_name, r.r_name, count(*) AS n_customers,
           ROUND(SUM(c.c_acctbal), 2) AS total_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY n.n_name, r.r_name
    """,
    tags=("join",),
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit broadcast of the small dims: no shuffle of the fact side.

    At 100 TB the only sane plan for fact⨝dim is broadcast-hash; the hint
    makes it deterministic rather than stats-dependent.
    """
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name", "r_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
        )
    )


@register(
    "join_left",
    oracle="""
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
    FROM customer c LEFT JOIN orders o
      ON c.c_custkey = o.o_custkey AND o.o_totalprice > 400000
    """,
    tags=("join",),
)
def join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer with a join-side predicate (null-extended non-matches)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return c.join(
        o, (c.c_custkey == o.o_custkey) & (o.o_totalprice > 400000), "left"
    ).select("c_custkey", "c_name", "o_orderkey", "o_totalprice")


@register(
    "join_right",
    oracle="""
    SELECT o.o_orderkey, o.o_orderstatus, c.c_name
    FROM (SELECT * FROM customer WHERE c_acctbal > 9000) c
    RIGHT JOIN orders o ON c.c_custkey = o.o_custkey
    """,
    tags=("join",),
)
def join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer: all orders survive, customer side null-extended."""
    c = table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9000)
    o = table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "right").select(
        "o_orderkey", "o_orderstatus", "c_name"
    )


@register(
    "join_full",
    oracle="""
    SELECT a.n_nationkey AS left_key, b.n_nationkey AS right_key,
           a.n_name AS left_name, b.n_name AS right_name
    FROM (SELECT * FROM nation WHERE n_regionkey IN (0, 1)) a
    FULL JOIN (SELECT * FROM nation WHERE n_regionkey IN (1, 2)) b
      ON a.n_nationkey = b.n_nationkey
    """,
    tags=("join",),
)
def join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join with nulls on both non-matching sides."""
    n = table(spark, sf_dir, "nation")
    a = n.filter(F.col("n_regionkey").isin(0, 1)).alias("a")
    b = n.filter(F.col("n_regionkey").isin(1, 2)).alias("b")
    return a.join(b, F.col("a.n_nationkey") == F.col("b.n_nationkey"), "full").select(
        F.col("a.n_nationkey").alias("left_key"),
        F.col("b.n_nationkey").alias("right_key"),
        F.col("a.n_name").alias("left_name"),
        F.col("b.n_name").alias("right_name"),
    )


@register(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
    """,
    tags=("join",),
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS: customers with at least one finished order (no duplication)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_acctbal"
    )


@register(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority LIKE '1%')
    """,
    tags=("join",),
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS: customers with no urgent (priority 1) order."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderpriority").like("1%"))
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "join_cross_theta",
    oracle="""
    SELECT a.n_name AS nation_a, b.n_name AS nation_b
    FROM nation a, nation b
    WHERE a.n_regionkey = b.n_regionkey AND a.n_nationkey < b.n_nationkey
    """,
    tags=("join",),
)
def join_cross_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta join: equi part (region) + strict inequality (unordered pairs).

    The inequality keeps each pair once; Catalyst plans the equi conjunct
    as the hash key and the `<` as a post-filter, so this is NOT a full
    cross product even though it is written as one.
    """
    n = table(spark, sf_dir, "nation")
    a, b = n.alias("a"), n.alias("b")
    return (
        a.join(
            b,
            (F.col("a.n_regionkey") == F.col("b.n_regionkey"))
            & (F.col("a.n_nationkey") < F.col("b.n_nationkey")),
        )
        .select(F.col("a.n_name").alias("nation_a"), F.col("b.n_name").alias("nation_b"))
    )


@register(
    "join_range",
    oracle="""
    SELECT o.o_orderkey, t.tier_name
    FROM orders o
    JOIN (VALUES ('low', 0.0, 100000.0),
                 ('mid', 100000.0, 300000.0),
                 ('high', 300000.0, 1000000000.0)) AS t(tier_name, lo, hi)
      ON o.o_totalprice >= t.lo AND o.o_totalprice < t.hi
    """,
    tags=("join",),
)
def join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure range (band) join: fact value into broadcast interval table.

    No equi key exists, so the only scalable plan is broadcast-nested-loop
    with the tiny side broadcast — exactly what the hint forces. At 100 TB
    the fact side streams through executors once; the 3-row tier table is
    on every executor.
    """
    o = table(spark, sf_dir, "orders")
    tiers = spark.createDataFrame(
        [("low", 0.0, 100_000.0), ("mid", 100_000.0, 300_000.0), ("high", 300_000.0, 1_000_000_000.0)],
        "tier_name string, lo double, hi double",
    )
    return o.join(
        F.broadcast(tiers),
        (o.o_totalprice >= tiers.lo) & (o.o_totalprice < tiers.hi),
    ).select("o_orderkey", "tier_name")


_N_SALTS = 8


def salted_join(
    fact: DataFrame, dim: DataFrame, fact_key: str, dim_key: str
) -> DataFrame:
    """Skew-mitigating inner equi join: fact rows get a uniform salt in
    [0, _N_SALTS), the dim side is replicated once per salt, and the join
    key becomes (key, salt) — a pathological hot key's rows now land in
    _N_SALTS separate shuffle partitions instead of one straggler.

    The salt value a fact row receives does not affect the result (every
    dim row exists under every salt), so seeded rand() is safe under task
    retries. This is the manual fallback for skew beyond what AQE's
    skew-join split handles (both can be active; AQE splits by partition
    size at runtime, salting pre-splits by design).
    """
    salted_fact = fact.withColumn(
        "_salt", F.floor(F.rand(seed=42) * _N_SALTS).cast("int")
    )
    salted_dim = dim.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(_N_SALTS - 1)))
    )
    joined = salted_fact.join(
        salted_dim,
        (salted_fact[fact_key] == salted_dim[dim_key])
        & (salted_fact["_salt"] == salted_dim["_salt"]),
    )
    return joined.drop("_salt")


@register(
    "join_skew_salted",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber, l.l_quantity, s.s_name
    FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
    """,
    tags=("join", "skew"),
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The salted join demonstrated end-to-end (result set identical to the
    plain equi join, which is what the oracle checks). shuffle_hash hint
    bypasses the broadcast the tiny fixture dim would otherwise get, so
    the salted shuffle path actually executes."""
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier").hint("shuffle_hash")
    return salted_join(li, s, "l_suppkey", "s_suppkey").select(
        "l_orderkey", "l_linenumber", "l_quantity", "s_name"
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    *,
    left_on: str,
    right_on: str,
    left_time: str,
    right_time: str,
    right_payload: list[str],
    right_tiebreak: str,
    direction: str = "backward",
    tolerance_us: int | None = None,
) -> DataFrame:
    """Generic as-of join (library API), pandas-merge_asof directions:

    - ``backward`` (default): greatest ``right_time`` <= ``left_time``;
    - ``forward``: smallest ``right_time`` >= ``left_time``;
    - ``nearest``: whichever of the two is closer in time, ties to
      backward (pandas semantics).

    Within equal right times the highest ``right_tiebreak`` wins in every
    direction. One hash shuffle on the key either way — backward/forward
    are one O(n log n) in-partition sort + running first/last; nearest
    runs BOTH window scans over the same hash partitioning (two sorts,
    still a single Exchange) and picks per row. Returns the left rows
    with ``asof_<payload>`` columns appended (NULL when no right row
    qualifies)."""
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"unknown asof direction: {direction}")
    payload_cols = (
        right_payload
        if right_tiebreak in right_payload
        else right_payload + [right_tiebreak]
    )
    # __rt (the matched right row's own time) rides inside the payload so
    # the nearest-direction distance compare needs no extra column.
    payload = F.struct(
        *[F.col(c) for c in payload_cols], F.col(right_time).alias("__rt")
    )
    r = right.select(
        F.col(right_on).alias("__k"),
        F.col(right_time).alias("__t"),
        payload.alias("__payload"),
        F.lit(0).alias("__is_left"),
    )
    l_cols = left.columns
    l = left.select(
        *l_cols,
        F.col(left_on).alias("__k"),
        F.col(left_time).alias("__t"),
        F.lit(None).cast(r.schema["__payload"].dataType).alias("__payload"),
        F.lit(1).alias("__is_left"),
    )
    merged = r.unionByName(l, allowMissingColumns=True)
    # Backward: rights sort BEFORE lefts at equal __t (equal time counts),
    # equal-time rights tiebreak-ascending so last() == highest tiebreak.
    w_back = (
        Window.partitionBy("__k")
        .orderBy(
            "__t",
            "__is_left",
            F.col(f"__payload.{right_tiebreak}").asc_nulls_last(),
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # Forward: rights sort AFTER lefts at equal __t, tiebreak-descending
    # so first() == highest tiebreak at the smallest qualifying time.
    w_fwd = (
        Window.partitionBy("__k")
        .orderBy(
            "__t",
            F.col("__is_left").desc(),
            F.col(f"__payload.{right_tiebreak}").desc_nulls_last(),
        )
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    if direction == "backward":
        merged = merged.withColumn(
            "__hit", F.last("__payload", ignorenulls=True).over(w_back)
        )
    elif direction == "forward":
        merged = merged.withColumn(
            "__hit", F.first("__payload", ignorenulls=True).over(w_fwd)
        )
    else:
        bwd = F.last("__payload", ignorenulls=True).over(w_back)
        fwd = F.first("__payload", ignorenulls=True).over(w_fwd)
        merged = merged.withColumn("__b", bwd).withColumn("__f", fwd)
        # __rt may be TIMESTAMP_NTZ (not directly castable to long);
        # route through TIMESTAMP — the pinned UTC session tz makes the
        # epoch identical to the oracle's epoch_us() on the naive value.
        # Compare in MICROseconds: cast('long') would truncate to whole
        # seconds, silently flipping near-ties against any fractional-
        # second oracle (events.ts is microsecond-precision).
        def _epoch(c):
            return F.unix_micros(c.cast("timestamp"))

        back_wins = F.col("__b").isNotNull() & (
            F.col("__f").isNull()
            | (
                _epoch(F.col("__t")) - _epoch(F.col("__b.__rt"))
                <= _epoch(F.col("__f.__rt")) - _epoch(F.col("__t"))
            )
        )
        merged = merged.withColumn(
            "__hit", F.when(back_wins, F.col("__b")).otherwise(F.col("__f"))
        )
    if tolerance_us is not None:
        # pandas merge_asof ``tolerance`` semantics: the matched row must
        # be within the window or the match is dropped (payload → NULL).
        # Post-filtering IS the exact semantics: the asof pick is already
        # the time-closest qualifying row in its direction, so if it
        # misses the window every other candidate misses it too.
        def _epoch(c):
            return F.unix_micros(c.cast("timestamp"))

        dist = F.abs(_epoch(F.col("__t")) - _epoch(F.col("__hit.__rt")))
        merged = merged.withColumn(
            "__hit",
            F.when(
                F.col("__hit").isNotNull() & (dist <= F.lit(int(tolerance_us))),
                F.col("__hit"),
            ),
        )
    return merged.filter(F.col("__is_left") == 1).select(
        *l_cols,
        *[F.col(f"__hit.{c}").alias(f"asof_{c}") for c in right_payload],
    )


@register(
    "join_asof",
    oracle="""
    WITH r AS (
      SELECT * FROM (
        SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey, o_orderdate
                                  ORDER BY o_orderkey DESC) AS rn
        FROM orders) WHERE rn = 1)
    SELECT e.event_id, e.user_id, e.ts,
           r.o_orderkey AS asof_orderkey, r.o_totalprice AS asof_totalprice
    FROM events e
    ASOF LEFT JOIN r ON e.user_id = r.o_custkey AND e.ts >= r.o_orderdate
    """,
    tags=("join", "asof"),
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each event, the latest order at-or-before its time.

    Implemented as the scalable sort-merge as-of: union left+right on
    (key, time), one window scan per key carrying the last-seen right row
    forward (`last(..., ignorenulls=True)`), then keep left rows. This is
    ONE shuffle on the key and O(n log n) — never the join-then-reduce
    shape, whose intermediate is O(matches) and explodes when many right
    rows precede each left row (here: every order precedes every 2024
    event, so the naive join would be |events|×|orders per user|).

    Tie-break at equal (key, time) — max o_orderkey wins, the oracle's
    rn=1 CTE — costs nothing: o_orderkey ascending is simply the last
    component of the scan sort, so the running `last()` lands on the
    highest-key order. (An earlier version pre-deduped the right side
    with its own window, which was a second full shuffle of orders on a
    different key; folding the tie-break into the scan's sort removed it
    — .explain showed two Exchanges, now one.)
    """
    ev = table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = table(spark, sf_dir, "orders")
    return asof_join(
        ev,
        o,
        left_on="user_id",
        right_on="o_custkey",
        left_time="ts",
        right_time="o_orderdate",
        right_payload=["o_orderkey", "o_totalprice"],
        right_tiebreak="o_orderkey",
    ).select(
        "event_id",
        "user_id",
        "ts",
        F.col("asof_o_orderkey").alias("asof_orderkey"),
        F.col("asof_o_totalprice").alias("asof_totalprice"),
    )


@register(
    "join_asof_nearest",
    oracle="""
    WITH r AS (
      SELECT * FROM (
        SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey, o_orderdate
                                  ORDER BY o_orderkey DESC) AS rn
        FROM orders) WHERE rn = 1)
    SELECT e.event_id, e.user_id, e.ts,
           CASE WHEN b.o_orderdate IS NOT NULL AND (f.o_orderdate IS NULL OR
                     epoch_us(CAST(e.ts AS TIMESTAMP)) - epoch_us(CAST(b.o_orderdate AS TIMESTAMP))
                     <= epoch_us(CAST(f.o_orderdate AS TIMESTAMP)) - epoch_us(CAST(e.ts AS TIMESTAMP)))
                THEN b.o_orderkey ELSE f.o_orderkey END AS asof_orderkey,
           CASE WHEN b.o_orderdate IS NOT NULL AND (f.o_orderdate IS NULL OR
                     epoch_us(CAST(e.ts AS TIMESTAMP)) - epoch_us(CAST(b.o_orderdate AS TIMESTAMP))
                     <= epoch_us(CAST(f.o_orderdate AS TIMESTAMP)) - epoch_us(CAST(e.ts AS TIMESTAMP)))
                THEN b.o_totalprice ELSE f.o_totalprice END AS asof_totalprice
    FROM events e
    ASOF LEFT JOIN r b ON e.user_id = b.o_custkey AND e.ts >= b.o_orderdate
    ASOF LEFT JOIN r f ON e.user_id = f.o_custkey AND e.ts <= f.o_orderdate
    """,
    tags=("join", "asof"),
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-direction as-of join (pandas merge_asof direction='nearest'):
    for each event, the order closest in time on EITHER side, ties to the
    past side. Same single-shuffle union-merge plan as join_asof, with
    both the running-last (backward) and running-first (forward) window
    scans over one hash partitioning and a per-row distance pick — the
    oracle spells it as two DuckDB ASOF joins plus the same CASE.
    """
    ev = table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = table(spark, sf_dir, "orders")
    return asof_join(
        ev,
        o,
        left_on="user_id",
        right_on="o_custkey",
        left_time="ts",
        right_time="o_orderdate",
        right_payload=["o_orderkey", "o_totalprice"],
        right_tiebreak="o_orderkey",
        direction="nearest",
    ).select(
        "event_id",
        "user_id",
        "ts",
        F.col("asof_o_orderkey").alias("asof_orderkey"),
        F.col("asof_o_totalprice").alias("asof_totalprice"),
    )


@register(
    "join_null_safe",
    oracle="""
    WITH cust AS (
        SELECT c_custkey, nullif(c_mktsegment, 'BUILDING') AS seg_key
        FROM customer
    ), seg AS (
        SELECT nullif(c_mktsegment, 'BUILDING') AS seg_key,
               count(*) AS seg_n
        FROM customer
        GROUP BY 1
    )
    SELECT c.c_custkey, c.seg_key, s.seg_n
    FROM cust c JOIN seg s ON c.seg_key IS NOT DISTINCT FROM s.seg_key
    """,
    tags=("join",),
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi join (<=> / IS NOT DISTINCT FROM): NULL keys match
    each other instead of vanishing, the semantics CDC pipelines need for
    nullable business keys. eqNullSafe keeps the join a hash join (NULLs
    hash like any value) — no fallback to a nested-loop plan."""
    c = table(spark, sf_dir, "customer")
    cust = c.select(
        "c_custkey", F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("seg_key")
    )
    seg = (
        c.select(F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("seg_key"))
        .groupBy("seg_key")
        .agg(F.count("*").alias("seg_n"))
    )
    return cust.join(seg, cust["seg_key"].eqNullSafe(seg["seg_key"])).select(
        cust["c_custkey"], cust["seg_key"], seg["seg_n"]
    )


@register(
    "join_merge_hint",
    oracle="""
    SELECT c.c_mktsegment,
           count(*) AS n_orders,
           round(sum(o.o_totalprice), 2) AS sum_total
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    tags=("join",),
)
def join_merge_hint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-strategy hint surface: force a sort-merge join where the
    planner would broadcast (tests/test_plans.py asserts SortMergeJoin in
    the plan). The hint matters at scale when the 'small' side is small
    only per-partition (pre-sorted bucketed tables) or when broadcast
    would OOM the driver — the user can override per-join without
    touching session config."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").hint("merge")
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_total"),
        )
    )


@register(
    "join_runtime_bloom",
    oracle="""
    SELECT l.l_returnflag,
           CAST(count(*) AS BIGINT) AS n_lines,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_size = 1
    GROUP BY l.l_returnflag
    """,
    tags=("join", "optimizer"),
)
def join_runtime_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime bloom-filter join (Spark's row-level analog of dynamic
    partition pruning): a selective dim-side predicate (p_size = 1, ~2 %
    of part) is condensed into a bloom filter at runtime and pushed into
    the FACT scan, so ~98 % of lineitem rows die at the scan instead of
    crossing the shuffle. The SHUFFLE_HASH hint makes this the shuffle
    join the feature targets (a broadcast join already filters during
    probe). Injection is governed by
    spark.sql.optimizer.runtime.bloomFilter.{enabled,
    applicationSideScanSizeThreshold (10 GB default),
    creationSideThreshold (10 MB default)}, and injection is skipped
    while the creation side is broadcastable (a broadcast hash join
    already filters during probe).  At bench scale the fact side is
    below the application threshold, so the local plan is a plain
    shuffle join; tests/test_plans.py recreates the 100 TB condition
    (dim above broadcast threshold, fact above application threshold)
    and asserts the might_contain runtime filter lands on the fact
    scan."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(F.col("p_size") == 1)
    return (
        li.join(p.hint("shuffle_hash"), li["l_partkey"] == p["p_partkey"])
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
    )


@register(
    "join_any_left",
    oracle="""
    WITH ranked AS (
        SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate, o_orderkey) AS rn
        FROM orders
    )
    SELECT c.c_custkey, c.c_name,
           r.o_orderkey   AS first_orderkey,
           r.o_orderdate  AS first_orderdate,
           round(r.o_totalprice, 2) AS first_totalprice
    FROM customer c
    LEFT JOIN ranked r ON r.o_custkey = c.c_custkey AND r.rn = 1
    """,
    tags=("join", "clickhouse"),
)
def join_any_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ANY LEFT JOIN semantics: each left row matches AT MOST
    ONE right row. ClickHouse picks an arbitrary match; this engine makes
    the pick deterministic — the minimum (o_orderdate, o_orderkey) order
    per customer — because an arbitrary pick can never pass a
    differential gate and is a reproducibility bug in a pipeline anyway.

    The right side is reduced FIRST with min(struct(...)) — a mergeable
    aggregate with map-side partial combine — then joined; the
    window+filter form the oracle uses would shuffle every order row
    unreduced. After the reduction the right side is ≤ one row per key,
    so the join itself can never explode (the property ANY JOIN exists
    to guarantee)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    first = (
        o.groupBy("o_custkey")
        .agg(
            F.min(
                F.struct("o_orderdate", "o_orderkey", "o_totalprice")
            ).alias("f")
        )
        .select(
            "o_custkey",
            F.col("f.o_orderkey").alias("first_orderkey"),
            F.col("f.o_orderdate").alias("first_orderdate"),
            F.round(F.col("f.o_totalprice"), 2).alias("first_totalprice"),
        )
    )
    return c.join(first, c["c_custkey"] == first["o_custkey"], "left").select(
        "c_custkey", "c_name", "first_orderkey", "first_orderdate", "first_totalprice"
    )


INTERVAL_BUCKET_DAYS = 7  # overlap-join bucket width (≥ max interval len / k)


@register(
    "join_interval_overlap",
    oracle="""
    WITH a AS (
        SELECT o_orderkey AS a_key,
               CAST(o_orderdate AS DATE) AS a_start,
               CAST(o_orderdate AS DATE)
                   + CAST(o_orderkey % 20 + 1 AS INTEGER) AS a_end
        FROM orders
        WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) = '0'
    ),
    b AS (
        SELECT o_orderkey AS b_key,
               CAST(o_orderdate AS DATE) + 5  AS b_start,
               CAST(o_orderdate AS DATE) + 12 AS b_end
        FROM orders
        WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) = 'f'
    )
    SELECT a.a_key, b.b_key,
           CAST(datediff('day', greatest(a.a_start, b.b_start),
                         least(a.a_end, b.b_end)) + 1 AS BIGINT)
               AS overlap_days
    FROM a JOIN b ON a.a_start <= b.b_end AND b.b_start <= a.a_end
    """,
    tags=("join", "interval"),
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join (two interval sets, emit overlapping pairs +
    overlap length): the temporal-join workhorse for sessions × outages,
    promos × orders, shifts × incidents. The oracle states it as the
    direct theta join; a theta join at 100 TB is a cross product, so the
    engine's plan is the BUCKETED form: each interval explodes to the
    7-day grid cells it touches (bounded fan-out: interval length is
    capped, so ≤ 4 cells here), pairs equi-join per cell, the exact
    overlap predicate filters false bucket-mates, and a distinct
    collapses pairs that co-occur in several cells. Shuffle volume is
    O(intervals × cells-per-interval), never |A|×|B|.

    Interval endpoints and overlap lengths are integer DAYS end-to-end —
    engine-exact."""
    o = table(spark, sf_dir, "orders")
    h1 = F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1)
    d0 = F.col("o_orderdate").cast("date")
    a = o.filter(h1 == "0").select(
        F.col("o_orderkey").alias("a_key"),
        d0.alias("a_start"),
        F.date_add(d0, (F.col("o_orderkey") % 20 + 1).cast("int")).alias("a_end"),
    )
    b = o.filter(h1 == "f").select(
        F.col("o_orderkey").alias("b_key"),
        F.date_add(d0, 5).alias("b_start"),
        F.date_add(d0, 12).alias("b_end"),
    )

    def with_cells(df, start, end):
        day = F.datediff(F.col(start), F.lit("1995-01-01").cast("date"))
        day_end = F.datediff(F.col(end), F.lit("1995-01-01").cast("date"))
        cells = F.sequence(
            F.floor(day / INTERVAL_BUCKET_DAYS),
            F.floor(day_end / INTERVAL_BUCKET_DAYS),
        )
        return df.withColumn("cell", F.explode(cells))

    pairs = (
        with_cells(a, "a_start", "a_end")
        .join(with_cells(b, "b_start", "b_end"), "cell")
        .filter(
            (F.col("a_start") <= F.col("b_end"))
            & (F.col("b_start") <= F.col("a_end"))
        )
        .select("a_key", "b_key", "a_start", "a_end", "b_start", "b_end")
        .distinct()
    )
    return pairs.select(
        "a_key",
        "b_key",
        (
            F.datediff(
                F.least("a_end", "b_end"), F.greatest("a_start", "b_start")
            )
            + 1
        )
        .cast("long")
        .alias("overlap_days"),
    )


_ASOF_TOL_DAYS = 30


@register(
    "join_asof_tolerance",
    oracle=f"""
    WITH r AS (
      SELECT * FROM (
        SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey, o_orderdate
                                  ORDER BY o_orderkey DESC) AS rn
        FROM orders) WHERE rn = 1)
    SELECT e.event_id, e.user_id, e.ts,
           CASE WHEN epoch_us(CAST(e.ts AS TIMESTAMP))
                     - epoch_us(CAST(r.o_orderdate AS TIMESTAMP))
                  <= CAST({_ASOF_TOL_DAYS} AS BIGINT) * 86400 * 1000000
                THEN r.o_orderkey END   AS asof_orderkey,
           CASE WHEN epoch_us(CAST(e.ts AS TIMESTAMP))
                     - epoch_us(CAST(r.o_orderdate AS TIMESTAMP))
                  <= CAST({_ASOF_TOL_DAYS} AS BIGINT) * 86400 * 1000000
                THEN r.o_totalprice END AS asof_totalprice
    FROM events e
    ASOF LEFT JOIN r ON e.user_id = r.o_custkey AND e.ts >= r.o_orderdate
    """,
    tags=("join", "asof"),
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a match window (pandas ``merge_asof(tolerance=...)``
    semantics): latest order at-or-before the event, but only if it is at
    most {_ASOF_TOL_DAYS} days old — staler matches become NULL instead of
    silently joining arbitrarily old state. This is the form feature-store
    lookups actually need (a point-in-time feature beyond its freshness
    window is worse than missing).

    Plan is identical to join_asof — ONE hash shuffle on the key, the
    running-last window scan — plus a pure projection applying the window:
    post-filtering is exact, because the asof pick is already the closest
    qualifying row, so if IT misses the tolerance every other row does
    too. Compare in microseconds on both sides (unix_micros vs epoch_us;
    whole-second casts would flip near-boundary matches)."""
    ev = table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = table(spark, sf_dir, "orders")
    return asof_join(
        ev,
        o,
        left_on="user_id",
        right_on="o_custkey",
        left_time="ts",
        right_time="o_orderdate",
        right_payload=["o_orderkey", "o_totalprice"],
        right_tiebreak="o_orderkey",
        tolerance_us=_ASOF_TOL_DAYS * 86400 * 1000000,
    ).select(
        "event_id",
        "user_id",
        "ts",
        F.col("asof_o_orderkey").alias("asof_orderkey"),
        F.col("asof_o_totalprice").alias("asof_totalprice"),
    )


@register(
    "join_bucketed_colocated",
    oracle="""
    SELECT o.o_orderkey,
           o.o_orderstatus,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                    * CAST(ROUND((1 - l.l_discount) * 100) AS BIGINT))
                AS BIGINT) AS revenue_e4
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderkey, o.o_orderstatus
    """,
    tags=("join", "sink", "scale"),
)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exchange-free co-located join over bucketed layout — THE lever for
    repeated fact-to-fact joins at 100 TB: both sides are written
    ``bucketBy(8, <key>)`` + ``sortBy(<key>)`` once (paying the shuffle
    at layout time), and every subsequent join on that key runs with NO
    Exchange on either side — each task zips bucket i with bucket i.
    The follow-on groupBy(o_orderkey, ...) ALSO rides the same bucket
    partitioning (hash on o_orderkey satisfies the grouping's clustered
    distribution), so the whole join+aggregate plan has zero shuffles;
    tests/test_plans.py asserts the Exchange-free physical plan.

    The oracle states the layout-free equivalent — bucketing is pure
    physical layout and must not change results. Revenue is summed in
    exact 10^-4-dollar integer units (the centi-unit pattern of
    relational.py:131): price and discount each carry 2 decimals, so
    per-item revenue is an exact BIGINT and the per-order sum is
    summation-order-independent — ROUND(SUM(double), 2) here lands on
    half-cent boundaries on ~0.1% of orders, where engines legitimately
    disagree (measured: 15 of 14 743 orders at sf0.01).

    The layout is built ONCE per source-fixture generation and reused —
    that IS the bucketing contract (pay the shuffle at layout time,
    amortize over every query).  Each generation lives in an IMMUTABLE
    fingerprint-keyed subdirectory (io.staged, ADVICE r7): a
    regenerated fixture builds a NEW directory and swings the CURRENT
    pointer, so a concurrent session mid-scan on the old layout is never
    rmtree'd out from under — the residual read race of the old
    rebuild-in-place protocol.  Stale generations are GC'd lazily by age.
    """
    import os

    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    from sqlite_to_clickhouse_spark.sources.sinks import write_bucketed

    def _build(gen: str) -> None:
        gtag = os.path.basename(gen)[4:]  # strip "gen-"
        write_bucketed(
            o, f"coloc_orders_{gtag}", ["o_orderkey"], 8,
            sort_cols=["o_orderkey"], path=os.path.join(gen, "orders"),
        )
        write_bucketed(
            li, f"coloc_lineitem_{gtag}", ["l_orderkey"], 8,
            sort_cols=["l_orderkey"], path=os.path.join(gen, "lineitem"),
        )

    gen = staged("coloc", sf_dir, ("orders", "lineitem"), None, _build)
    # Catalog names carry the GENERATION tag: table names are
    # session-global, so names keyed on anything coarser (sf_dir alone)
    # could satisfy tableExists while pointing at a different layout.
    # Per-generation names make the catalog entry a pure function of the
    # immutable on-disk path, so a registered entry can never go stale.
    gtag = os.path.basename(gen)[4:]
    t_orders, t_lineitem = f"coloc_orders_{gtag}", f"coloc_lineitem_{gtag}"

    def _register_existing(t_name: str, df, sub: str, key: str) -> None:
        # Register the already-on-disk bucketed layout in THIS session's
        # catalog without touching the files (cold catalog after another
        # process built the generation). External bucketed DDL carries
        # the bucket spec, so the exchange-free plan is identical to the
        # write_bucketed path (plan-asserted in tests/test_bucketing.py).
        ddl = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
        )
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {t_name} ({ddl}) USING parquet "
            f"CLUSTERED BY ({key}) SORTED BY ({key}) INTO 8 BUCKETS "
            f"LOCATION '{os.path.join(gen, sub)}'"
        )

    if not (
        spark.catalog.tableExists(t_orders)
        and spark.catalog.tableExists(t_lineitem)
    ):
        _register_existing(t_orders, o, "orders", "o_orderkey")
        _register_existing(t_lineitem, li, "lineitem", "l_orderkey")
    bo, bl = spark.table(t_orders), spark.table(t_lineitem)
    rev_e4 = F.round(F.col("l_extendedprice") * 100).cast("long") * F.round(
        (F.lit(1) - F.col("l_discount")) * 100
    ).cast("long")
    return (
        bo.join(bl, bo.o_orderkey == bl.l_orderkey)
        .groupBy("o_orderkey", "o_orderstatus")
        .agg(F.sum(rev_e4).alias("revenue_e4"))
    )
