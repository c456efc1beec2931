"""Structured Streaming operators over the ``events`` table (SURVEY.md §2b
stream_* family).

The reference's only streaming-adjacent behavior is chunked incremental
load (/root/reference/main.py:106-116, R4) — these ops are its engine-side
generalization: event-time windows, sessions, watermark-late-drop, stateful
dedup, and an incremental foreachBatch sink (R11's streaming analog,
/root/reference/main.py:169-173).

Execution model: each registered query builds a ``readStream`` plan over
the same parquet fixture the batch ops scan, runs it to completion with
``trigger(availableNow=True)`` into a memory sink (or a parquet sink for
the foreachBatch op), and returns the materialized result as a DataFrame.
Trigger.AvailableNow processes exactly the data present at start and then
stops — the streaming analog of a batch run, which is what makes these
oracle-checkable against plain SQL on the same file.

Scale notes: all five stateful ops keep state bounded — windows and
sessions evict on watermark advance, dedup state is scoped to the
watermark horizon (``dropDuplicatesWithinWatermark``), and the foreachBatch
sink writes per-epoch parquet (idempotent by epoch_id, mirroring the
reference's insert-block idempotence). Nothing collects to the driver
mid-stream.
"""

from __future__ import annotations

import itertools
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sqlite_to_clickhouse_spark import io as gio
from sqlite_to_clickhouse_spark.operators.dedup import (
    DEL_MOD,
    DEL_REM,
    _INCR_ORACLE,
    _deleted_ids,
    _doc_tokens,
    _incr_batch_pred,
    _incr_index_path,
    _minhash_oracle,
    minhash_index_append,
    minhash_index_dedup,
    minhash_index_delete,
)
from sqlite_to_clickhouse_spark.registry import register

_MEM_COUNTER = itertools.count()


def _stage_dir(sf_dir: str) -> str:
    """A dir holding only a symlink to ``{sf_dir}/events.parquet`` — the
    directory the file stream source monitors, staged once per version of
    the events file (io.staged)."""

    def write(d: str) -> None:
        os.makedirs(d)
        os.symlink(os.path.abspath(f"{sf_dir}/events.parquet"), os.path.join(d, "events.parquet"))

    return gio.staged("stage_events", sf_dir, ("events",), "events", write)


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``readStream`` over the events fixture with the same ts handling as
    the batch loader — delegates to io.normalize_events_ts so batch and
    stream stay in lockstep when the driver regenerates fixtures."""
    from sqlite_to_clickhouse_spark.io import normalize_events_ts, read_parquet

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/events.parquet"
    schema = read_parquet(spark, path).schema
    # The file stream source wants a directory to monitor, and the fixture
    # dir holds every table; stage a dir with a symlink to the one events
    # file (no data copy) and stream that.
    stage = _stage_dir(sf_dir)
    raw = spark.readStream.schema(schema).parquet(stage)
    return normalize_events_ts(raw)


def run_to_memory(sdf: DataFrame, output_mode: str) -> DataFrame:
    """Run a streaming plan to completion (AvailableNow) into a memory sink
    and return the result table. The memory sink is a test/driver harness
    device only — production sinks are foreachBatch/parquet/kafka."""
    name = f"stream_result_{next(_MEM_COUNTER)}"
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return sdf.sparkSession.table(name)


@register(
    "stream_tumbling",
    oracle="""
    SELECT time_bucket(INTERVAL '10 minutes', ts) AS win_start,
           event_type,
           COUNT(*)            AS cnt,
           ROUND(SUM(value),2) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    tags=("streaming",),
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling-window counts/sums (10-minute windows).

    Incremental hash aggregation with window-keyed state; with a watermark
    (see stream_watermark_late) state for closed windows is evicted, so
    state size is O(open windows × group keys) regardless of stream length.
    """
    ev = events_stream(spark, sf_dir)
    agg = (
        ev.groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("win_start"), "event_type", "cnt", "sum_value")
    )
    return run_to_memory(agg, "complete")


@register(
    "stream_sliding",
    oracle="""
    WITH ev AS (
      SELECT unnest([time_bucket(INTERVAL '5 minutes', ts),
                     time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes'])
               AS win_start,
             value
      FROM events
    )
    SELECT win_start, COUNT(*) AS cnt, ROUND(SUM(value),2) AS sum_value
    FROM ev GROUP BY 1
    """,
    tags=("streaming",),
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows: 10-minute length, 5-minute slide — each event lands
    in exactly two windows. The oracle expands the two containing window
    starts per event (time_bucket(5m) and its predecessor) and aggregates.
    """
    ev = events_stream(spark, sf_dir)
    agg = (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("cnt"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("win_start"), "cnt", "sum_value")
    )
    return run_to_memory(agg, "complete")


@register(
    "stream_session",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       >= INTERVAL '5 minutes'
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    islands AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM marked
    )
    SELECT user_id,
           MIN(ts)                        AS session_start,
           MAX(ts) + INTERVAL '5 minutes' AS session_end,
           COUNT(*)                       AS cnt
    FROM islands
    GROUP BY user_id, session_id
    """,
    tags=("streaming",),
)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows (5-minute gap) per user.

    Spark's session_window merges events whose inter-arrival gap is < 5
    minutes; the window end is last-event + gap. The oracle is the classic
    gaps-and-islands formulation (lag → new-session flag → running sum →
    group), which is exactly the batch semantics of session_window — so
    this stateful op is fully differentially tested, not rows-only.
    """
    ev = events_stream(spark, sf_dir)
    agg = (
        ev.groupBy(F.session_window("ts", "5 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "cnt",
        )
    )
    return run_to_memory(agg, "complete")


@register("stream_watermark_late", oracle=None, tags=("streaming",))
def stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window agg with a 10-minute watermark: rows later than
    (max event time seen − 10 min) are dropped, and window state older than
    the watermark is evicted — the mechanism that bounds state at 100 TB.

    ⊘ rows-only here: with the whole fixture arriving as one AvailableNow
    batch nothing is late, so the output equals stream_tumbling's; the
    actual late-drop behavior is asserted in tests/test_streaming.py by
    feeding files in reverse-time order with maxFilesPerTrigger=1.
    """
    ev = events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w.start").alias("win_start"), "cnt")
    )
    return run_to_memory(agg, "append")


@register(
    "stream_dedup",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
    tags=("streaming",),
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup by (user_id, event_type) within the
    watermark horizon (dropDuplicatesWithinWatermark). Projecting the key
    columns only makes the output deterministic (the kept row per key is
    arrival-order-dependent, the key set is not) — which is what lets a
    stateful op be oracle-checked as SELECT DISTINCT.
    """
    ev = events_stream(spark, sf_dir)
    dedup = (
        ev.withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return run_to_memory(dedup, "append")


@register(
    "stream_static_join",
    oracle="""
    SELECT c.c_mktsegment, COUNT(*) AS cnt, ROUND(SUM(e.value), 2) AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    tags=("streaming", "join"),
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: enrich the event stream with a dimension table,
    then aggregate per segment — the standard streaming-enrichment shape.

    The static side is a plain DataFrame; Spark broadcasts it into every
    micro-batch (re-resolved per batch, so slowly-changing dims pick up
    updates). No state is kept for the join itself — only the downstream
    aggregate holds state — which is why stream⨝static scales where
    stream⨝stream needs watermarked buffers.
    """
    from sqlite_to_clickhouse_spark.io import table as _table

    ev = events_stream(spark, sf_dir)
    cust = _table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    agg = (
        ev.join(cust, ev.user_id == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("cnt"), F.round(F.sum("value"), 2).alias("sum_value"))
    )
    return run_to_memory(agg, "complete")


@register(
    "stream_foreach_sink",
    oracle="""
    SELECT event_type, COUNT(*) AS cnt, ROUND(SUM(value),2) AS sum_value
    FROM events GROUP BY event_type
    """,
    tags=("streaming", "sink"),
)
def stream_foreach_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental load to a sink via foreachBatch — the streaming analog of
    the reference's chunked INSERT loop (/root/reference/main.py:169-173).

    Each micro-batch's aggregate state lands in the sink through the SAME
    batch write path a migration uses (df.write.parquet here; swap for
    write.jdbc against ClickHouse in production — sinks.clickhouse_ddl
    builds the DDL). Complete-mode overwrite per epoch is idempotent under
    retries, mirroring ReplacingMergeTree's last-write-wins.
    """
    ev = events_stream(spark, sf_dir)
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("cnt"), F.round(F.sum("value"), 2).alias("sum_value")
    )
    out_dir = gio.tempdir("stream_foreach_sink_")
    ckpt = gio.tempdir("stream_foreach_ckpt_")

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(os.path.join(out_dir, "result"))

    q = (
        agg.writeStream.foreachBatch(write_batch)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(os.path.join(out_dir, "result"))


@register(
    "stream_stream_join",
    oracle="""
    SELECT a.event_id AS click_id, b.event_id AS purchase_id,
           a.user_id
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'click' AND b.event_type = 'purchase'
     AND b.ts >= a.ts AND b.ts < a.ts + INTERVAL '30 minutes'
    """,
    tags=("streaming", "join"),
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: clicks joined to purchases by the same
    user within 30 minutes after the click.

    Both sides carry watermarks and the join condition bounds event time
    on both ends, so Spark can evict buffered rows once the watermark
    passes the range — the requirement that makes stream⨝stream state
    finite. Without the time bound the buffers grow forever; this op is
    the template for correctly-bounded streaming joins at scale.
    """
    clicks = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") < F.col("click_ts") + F.expr("INTERVAL 30 minutes")),
        "inner",
    ).select("click_id", "purchase_id", "user_id")
    return run_to_memory(joined, "append")


@register(
    "stream_custom_stateful",
    oracle="""
    SELECT user_id, COUNT(*) AS cnt, ROUND(SUM(value), 2) AS sum_value
    FROM events GROUP BY user_id
    """,
    tags=("streaming", "stateful", "udf"),
)
def stream_custom_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: a per-user
    running (count, sum) maintained in explicit group state and re-emitted
    on every batch that touches the user.

    This is the escape hatch for stateful semantics Spark's built-ins
    can't express (custom sessionization, CEP, decaying counters): state
    is an arbitrary tuple per key, batches arrive as Arrow-backed pandas
    frames, and the watermark/timeout machinery bounds state lifetime.
    With the fixture arriving as one AvailableNow batch the emissions are
    exactly the final per-user aggregates, which is what makes this
    differentially checkable against plain GROUP BY SQL.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    ev = events_stream(spark, sf_dir).select("user_id", "value")

    def update(key, pdfs, state):
        (user_id,) = key
        cnt, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            cnt += len(pdf)
            total += float(pdf["value"].sum())
        state.update((cnt, total))
        yield pd.DataFrame(
            {"user_id": [user_id], "cnt": [cnt], "sum_value": [round(total, 2)]}
        )

    out = ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, cnt long, sum_value double",
        stateStructType="cnt long, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return run_to_memory(out, "update")


@register(
    "stream_transform_with_state",
    oracle="""
    SELECT user_id, COUNT(*) AS cnt, ROUND(MAX(value), 2) AS max_value
    FROM events GROUP BY user_id
    """,
    tags=("streaming", "stateful", "udf"),
)
def stream_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via ``transformWithStateInPandas`` — the
    Spark 4 arbitrary-state API that supersedes applyInPandasWithState
    (see stream_custom_stateful for the older API on the same fixture):
    typed state handles (ValueState / ListState / MapState) acquired from
    a StatefulProcessorHandle, per-key Arrow-batched input, explicit
    lifecycle (init / handleInputRows / close), and timer support for
    TTL-style state expiry.

    Here a per-user ValueState carries (count, running max); each batch
    touching the user re-emits the updated aggregate, so with the fixture
    arriving as one AvailableNow batch the emissions are exactly the
    final per-user aggregates — differentially checkable against plain
    GROUP BY SQL, same harness pattern as the rest of the family. State
    is per-key and partition-local: the only shuffle is the groupBy hash
    exchange, and state size is O(|users|), not O(events).

    Environment gate: transformWithStateInPandas needs google.protobuf
    for its state-server wire protocol; where protobuf is absent (this
    container) the op degrades to the SAME semantics on the older
    applyInPandasWithState API — identical output, identical oracle, so
    the gate stays green either way and the new-API path lights up
    wherever protobuf exists."""
    import pandas as pd
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    try:
        from google.protobuf import descriptor  # noqa: F401
        _HAS_PROTOBUF = True
    except ImportError:
        _HAS_PROTOBUF = False

    ev = events_stream(spark, sf_dir).select("user_id", "value")

    if not _HAS_PROTOBUF:
        from pyspark.sql.streaming.state import GroupStateTimeout

        def update(key, pdfs, state):
            cnt, mx = state.get if state.exists else (0, float("-inf"))
            for pdf in pdfs:
                cnt += len(pdf)
                mx = max(mx, float(pdf["value"].max()))
            state.update((cnt, mx))
            yield pd.DataFrame(
                {"user_id": [key[0]], "cnt": [cnt], "max_value": [round(mx, 2)]}
            )

        out = ev.groupBy("user_id").applyInPandasWithState(
            update,
            outputStructType="user_id long, cnt long, max_value double",
            stateStructType="cnt long, mx double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        return run_to_memory(out, "update")

    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    class RunningAgg(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            schema = StructType(
                [
                    StructField("cnt", LongType()),
                    StructField("mx", DoubleType()),
                ]
            )
            self._agg = handle.getValueState("agg", schema)

        def handleInputRows(self, key, rows, timerValues):
            cnt, mx = self._agg.get() if self._agg.exists() else (0, float("-inf"))
            for pdf in rows:
                cnt += len(pdf)
                mx = max(mx, float(pdf["value"].max()))
            self._agg.update((cnt, mx))
            yield pd.DataFrame(
                {"user_id": [key[0]], "cnt": [cnt], "max_value": [round(mx, 2)]}
            )

        def close(self) -> None:
            pass

    out = ev.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=RunningAgg(),
        outputStructType="user_id long, cnt long, max_value double",
        outputMode="Update",
        timeMode="None",
    )
    return run_to_memory(out, "update")


@register(
    "stream_windowed_topk",
    oracle="""
    WITH counted AS (
      SELECT time_bucket(INTERVAL '30 minutes', ts) AS win_start,
             event_type,
             COUNT(*) AS cnt
      FROM events
      GROUP BY 1, 2
    )
    SELECT win_start, event_type, cnt, rn
    FROM (SELECT *, row_number() OVER (PARTITION BY win_start
                                       ORDER BY cnt DESC,
                                                event_type NULLS FIRST) AS rn
          FROM counted)
    WHERE rn <= 3
    """,
    tags=("streaming",),
)
def stream_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 event types per 30-minute window — the streaming
    leaderboard/trending shape (ClickHouse topK per toStartOfInterval).

    Rank is not an incremental aggregate, so the plan splits where
    production systems split it: the STREAM maintains the windowed
    counts (mergeable state, O(open windows × types), watermark-
    evictable), and the rank over each window's handful of count rows
    runs as a batch finisher on the materialized result — per micro-
    batch in a foreachBatch sink in production, after the AvailableNow
    drain here. The expensive part (the event scan) is streamed once;
    the finisher touches windows × types rows only.
    """
    ev = events_stream(spark, sf_dir)
    counted = (
        ev.groupBy(F.window("ts", "30 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w.start").alias("win_start"), "event_type", "cnt")
    )
    done = run_to_memory(counted, "complete")
    # Tie-break pinned NULLS FIRST on both sides (Spark's ASC default;
    # DuckDB defaults NULLS LAST) — found by the NULL adversarial sweep.
    w = Window.partitionBy("win_start").orderBy(
        F.desc("cnt"), F.asc_nulls_first("event_type")
    )
    return (
        done.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("win_start", "event_type", "cnt", "rn")
    )


@register(
    "stream_incremental_dedup",
    oracle=_INCR_ORACLE,  # dedup_incremental's ground truth (see docstring)
    tags=("streaming", "llm", "dedup", "incremental"),
)
def stream_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest dedup — the production loop a 100 TB corpus runs
    per arriving batch: each micro-batch is (1) near-dup-checked against
    the persisted MinHash band index via minhash_index_dedup (pruned
    band-partition lookup + exact-Jaccard verify), then (2) folded INTO
    the index via minhash_index_append (parquet append, new files only),
    so the NEXT batch dedups against everything before it.  foreachBatch
    runs micro-batches sequentially, which is exactly the ordering the
    append-before-next-lookup contract needs.

    The registered run stages the new-doc batch (doc_id % 10 == 7) and
    drains it in ONE AvailableNow micro-batch (r13, VERDICT r12 item 1:
    single-batch drain where the source allows).  By the
    append-twice-equals-once theorem (pinned in
    tests/test_minhash_property.py::test_incremental_index_append_twice_equals_once)
    the result is BIT-IDENTICAL to the previous two-micro-batch drain —
    the union of per-epoch pair sets equals the one-shot lookup against
    the same starting index — so this streaming op carries the same
    full-recompute DuckDB oracle, and the driver's hash gate pins the
    equivalence every round.  The multi-batch seam this op used to also
    exercise (append → next lookup within one drain) stays covered by
    stream_incremental_dedup_deletes, whose two micro-batches run around
    a delete and a checkpoint restart and cannot be fused.  Each
    invocation builds its own index copy in a temp dir: appends mutate
    the index, so the shared cached generation (which dedup_incremental
    reuses) must never be the append target."""
    docs = gio.table(spark, sf_dir, "documents")
    idx = gio.clone_store(_incr_index_path(spark, sf_dir), "stream_incr_idx_")
    batch = docs.filter(_incr_batch_pred())
    stage = os.path.join(gio.tempdir("stream_incr_stage_"), "in")
    out, ckpt = [None], [None]

    def _mk_dirs():
        out[0], ckpt[0] = _incr_stream_dirs(spark)

    # The batch staging write and the output-seed write are independent
    # jobs — overlap them (guide §2.6).  One staged file, one micro-batch.
    gio.run_jobs(
        lambda: batch.coalesce(1).write.mode("append").parquet(stage),
        _mk_dirs,
    )
    _run_incr_stream(spark, batch.schema, stage, idx, out[0], ckpt[0])
    return _read_epoch_pairs(spark, out[0])


_PAIR_SCHEMA = "doc_a bigint, doc_b bigint, jaccard double"


def _incr_stream_dirs(spark: SparkSession) -> tuple:
    out = os.path.join(gio.tempdir("stream_incr_out_"), "pairs")
    # Pre-create so an empty batch (zero micro-batches) still reads back.
    spark.createDataFrame([], _PAIR_SCHEMA).write.parquet(
        os.path.join(out, "ep-init")
    )
    return out, gio.tempdir("stream_incr_ckpt_")


def _incr_dedup_handler(spark: SparkSession, idx: str, out: str):
    """The per-micro-batch ingest-dedup handler (lookup, per-epoch output,
    manifest-committed append), shared by stream_incremental_dedup and
    its delete-during-ingest variant.

    EXACTLY-ONCE by epoch_id: foreachBatch RETRIES a failed micro-batch
    under the same epoch_id, so (1) pair output goes to a per-epoch
    directory with mode("overwrite") — a retry replaces its own
    half-written output instead of blind-appending duplicates — and
    (2) the index append publishes through the io.py manifest protocol
    (VERDICT r9 item 4) with the epoch id riding the commit's metadata:
    the data-visibility bit and the applied-epoch record are one atomic
    publish.  A crash anywhere before the epoch becomes VISIBLE —
    including between the version-file rename and the CURRENT swing —
    leaves the attempt's files orphaned-but-invisible (readers resolve
    the previous manifest) and its epoch un-applied: manifest_applied_
    meta reads the cumulative applied chain from CURRENT alone, never
    from orphan versions (ADVICE r10 medium), so the retry re-appends
    its own fresh files and commits once.  Neither the pre-r10
    double-append nor the silent-drop window exists, and the per-batch
    idempotence check is ONE JSON read however long the stream runs
    (pre-r11 it re-parsed every committed manifest per micro-batch)."""
    from sqlite_to_clickhouse_spark.io import manifest_applied_meta

    def handle(bdf: DataFrame, epoch_id: int) -> None:
        toks = _doc_tokens(bdf)
        # The applied-epoch check runs BEFORE the lookup plan is built
        # (VERDICT r12 item 7): when this epoch's append already COMMITTED
        # (pair-write failed after the commit, foreachBatch retried), the
        # lookup would otherwise resolve the post-append manifest and see
        # the batch's own rows — rewriting ep-N with different pairs than
        # the first attempt.  The retry instead excludes its own doc ids
        # from the index side, reproducing the pre-append lookup exactly
        # (pinned by test_retry_after_committed_append_is_byte_identical).
        applied = int(epoch_id) in manifest_applied_meta(idx, "epoch")
        # One scope per micro-batch releases the batch's cached frames (the
        # lookup's, which the append reads too) when the batch ends: a
        # production stream runs this loop indefinitely, and disk-backed
        # cached blocks are never auto-evicted (ADVICE r8).  foreachBatch
        # calls this on a thread with a fresh context, so the scope is the
        # outermost one even when the stream was started inside another.
        with gio.scope():
            pairs = minhash_index_dedup(
                spark, toks, "doc_id", "tk", idx,
                exclude_ids=toks.select("doc_id") if applied else None,
            ).select(
                F.col("id_a").alias("doc_a"),
                F.col("id_b").alias("doc_b"),
                "jaccard",
            )
            # The epoch-pair write and the index append are INDEPENDENT:
            # the lookup plan resolved the index manifest when it was
            # built, so its scans read the pre-append file list whatever
            # the append does concurrently — overlap the two (io.run_jobs,
            # guide §2.6).  Retry semantics: the pair write is
            # overwrite-idempotent per epoch, the append is gated on the
            # applied-epoch chain (checked above), and a failure in
            # either fails the micro-batch before the epoch commits.
            jobs = [
                lambda: pairs.write.mode("overwrite").parquet(
                    os.path.join(out, f"ep-{epoch_id}")
                )
            ]
            if not applied:
                jobs.append(
                    lambda: minhash_index_append(
                        toks, "doc_id", "tk", idx, meta={"epoch": int(epoch_id)}
                    )
                )
            gio.run_jobs(*jobs)

    return handle


def _run_incr_stream(spark, schema, stage, idx, out, ckpt) -> None:
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
        .writeStream.foreachBatch(_incr_dedup_handler(spark, idx, out))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _read_epoch_pairs(spark: SparkSession, out: str) -> DataFrame:
    # One subdirectory per epoch (plus the ep-init empty seed): enumerate
    # them explicitly — the layout is per-epoch by design (idempotence),
    # not a partitioned table.
    parts = [os.path.join(out, d) for d in sorted(os.listdir(out))]
    return spark.read.schema(_PAIR_SCHEMA).parquet(*parts)


# Epoch A: pairs touching batch A, other endpoint NOT in batch B (B did
# not exist yet; deletes had not landed).  Epoch B: pairs touching batch B
# with no deleted endpoint.  Disjoint by the B-endpoint test, so the union
# is the row multiset the stream emits.
_EP_A = "(doc_a % 20 = 7 OR doc_b % 20 = 7) AND doc_a % 20 <> 17 AND doc_b % 20 <> 17"
_EP_B = (
    f"(doc_a % 20 = 17 OR doc_b % 20 = 17) "
    f"AND doc_a % {DEL_MOD} <> {DEL_REM} AND doc_b % {DEL_MOD} <> {DEL_REM}"
)


@register(
    "stream_incremental_dedup_deletes",
    # The composed epoch-A/epoch-B ground truth.
    oracle=_minhash_oracle(pair_pred=f"({_EP_A}) OR ({_EP_B})"),
    tags=("streaming", "llm", "dedup", "incremental", "maintenance"),
)
def stream_incremental_dedup_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-DURING-ingest — the last ingest-lifecycle seam: batch A
    (doc_id % 20 == 7) streams in and is appended; a GDPR delete lands
    (minhash_index_delete tombstones the doc_id % 30 == 3 corpus docs —
    no rewrite); the stream RESTARTS FROM ITS CHECKPOINT and batch B
    (doc_id % 20 == 17) streams in against corpus-minus-deleted ∪ A.
    Two real availableNow runs share one checkpoint, which is exactly
    how a production ingest pipeline restarts around a maintenance
    action.

    Hash-gated end to end: the DuckDB oracle recomputes the composed
    ground truth — epoch-A pairs touch A with the other endpoint in
    corpus ∪ A (the delete hadn't happened yet), epoch-B pairs touch B
    with no deleted endpoint — and the two epoch sets are disjoint by
    construction (A-pairs have no B endpoint).  The hash also pins
    CHECKPOINT RECOVERY itself: if run 2 reprocessed batch A, the
    re-lookup would run against the now-tombstoned, A-appended index and
    overwrite epoch A's pairs with different ones, breaking the gate."""
    docs = gio.table(spark, sf_dir, "documents")
    idx = gio.clone_store(_incr_index_path(spark, sf_dir), "stream_incr_idx_")
    batch = docs.filter(_incr_batch_pred())
    stage = os.path.join(gio.tempdir("stream_incrdel_stage_"), "in")
    out, ckpt = [None], [None]

    def _mk_dirs():
        out[0], ckpt[0] = _incr_stream_dirs(spark)

    # Run 1: batch A arrives and is ingested (staging write overlapped
    # with the independent output-seed write, guide §2.6).
    gio.run_jobs(
        lambda: batch.filter(F.col("doc_id") % 20 == 7)
        .coalesce(1)
        .write.mode("append")
        .parquet(stage),
        _mk_dirs,
    )
    out, ckpt = out[0], ckpt[0]
    _run_incr_stream(spark, batch.schema, stage, idx, out, ckpt)
    # The delete request lands between ingests (tombstones only).  The
    # tombstone publish and the batch-B staging write are independent
    # jobs — overlap them (guide §2.6); both complete before run 2
    # starts, so run 2's lookup sees the committed delete either way.
    gio.run_jobs(
        lambda: minhash_index_delete(_deleted_ids(docs), idx),
        lambda: batch.filter(F.col("doc_id") % 20 == 17)
        .coalesce(1)
        .write.mode("append")
        .parquet(stage),
    )
    # Run 2: the stream resumes from the SAME checkpoint — batch A is not
    # reprocessed (exactly-once across restarts) — and ingests batch B.
    _run_incr_stream(spark, batch.schema, stage, idx, out, ckpt)
    return _read_epoch_pairs(spark, out)


@register(
    "stream_type_drift",
    oracle="""
    WITH c AS (
        SELECT time_bucket(INTERVAL '1 hour', ts) AS win_start,
               event_type,
               CAST(count(*) AS BIGINT) AS cnt
        FROM events
        GROUP BY 1, 2
    )
    SELECT win_start, event_type, cnt,
           ROUND(CAST(cnt AS DOUBLE)
                 / sum(cnt) OVER (PARTITION BY win_start), 6) AS win_share,
           ROUND(CAST(cnt AS DOUBLE)
                 / sum(cnt) OVER (PARTITION BY win_start)
                 - CAST(sum(cnt) OVER (PARTITION BY event_type) AS DOUBLE)
                   / sum(cnt) OVER (), 6) AS drift
    FROM c
    """,
    tags=("streaming", "analytics"),
)
def stream_type_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming mix-drift monitor — the ingest-time alarm a production
    corpus pipeline runs: per 1-hour event-time window, each event type's
    share of the window, and its DRIFT against the all-time mix (the
    signal that a crawler started flooding one source or a producer went
    quiet).

    The STREAM maintains only the windowed counts (incremental hash
    aggregation, state = open windows × types); shares and drift are a
    closing VIEW over that materialized state — streaming disallows the
    chained re-aggregation, and the production twin of this readout is a
    dashboard query over the state store/sink anyway. The view is three
    window-sums over the tiny counts relation (windows × types rows), so
    all ratio inputs stay BIGINT-exact until single rounded divisions —
    the differential gate then checks stream + view end-to-end against
    DuckDB's batch recomputation of the identical quantities."""
    ev = events_stream(spark, sf_dir)
    counts = run_to_memory(
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w.start").alias("win_start"), "event_type", "cnt"),
        "complete",
    )
    wtot = F.sum("cnt").over(Window.partitionBy("win_start"))
    gcnt = F.sum("cnt").over(Window.partitionBy("event_type"))
    # The grand total rides a broadcast scalar, not an unpartitioned
    # window (which would single-partition the relation — harmless at
    # windows×types size, but the scalar keeps the plan clean).
    gtot = counts.agg(F.sum("cnt").alias("gtot"))
    return counts.crossJoin(F.broadcast(gtot)).select(
        "win_start",
        "event_type",
        "cnt",
        F.round(F.col("cnt") / wtot, 6).alias("win_share"),
        F.round(
            F.col("cnt") / wtot - gcnt.cast("double") / F.col("gtot"), 6
        ).alias("drift"),
    )
