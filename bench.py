"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is executed to completion (count-consumed, results fully
materialized) after a warm-up of the session; timings are per-query wall
clock, min of two passes: the first pass pays JVM JIT (C2 compilation of
whole-stage-codegen classes) and OS page-cache population, which vary
3-10s run-to-run on a shared host — the second pass measures the engine,
not the JVM lifecycle. The first pass also builds the cached index
generations, in a private TMPDIR that no earlier run has filled. The
first-pass total is reported as ``derived.cold_total_sec`` for
transparency.

Output-size contract (VERDICT r5 item 2/7): the driver records only the
LAST 2000 bytes of output and parses the final JSON line — round 5's
101-query dict overflowed that and shipped ``"parsed": null``.  So the
printed line carries per-query timings for the PINNED_44 subset only
(the r4-comparable set, stable round-over-round so regressions are
detectable from the committed artifacts alone), with the full-set totals
under ``derived`` and the complete per-query map written to
``BENCH_FULL.json`` at the repo root.
"""

from __future__ import annotations

import atexit
import json
import os
import shutil
import sys
import tempfile
import time

REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

from sqlite_to_clickhouse_spark import io as gio  # noqa: E402
from sqlite_to_clickhouse_spark.registry import all_queries  # noqa: E402
from sqlite_to_clickhouse_spark.session import codegen_compiles, get_spark  # noqa: E402

# Headline set: one per major operator family — scan+agg, join, window,
# set/sort, scalar fns, UDF surface, streaming, ETL/migration, multimodal,
# LLM-pipeline dedup/similarity/text.
HEADLINE = [
    "pricing_summary",
    "filter_predicate",
    "project_computed",
    "agg_groupby_hash",
    "agg_rollup",
    "join_inner_hash",
    "join_broadcast",
    "join_asof",
    "window_rank",
    "window_running",
    "dedup_replacing",
    "topk_per_group",
    "set_union_distinct",
    "fn_json",
    "udf_pandas_scalar",
    "udtf_explode",
    "stream_tumbling",
    "scan_jdbc",
    "migrate_sqlite_roundtrip",
    "multimodal_decode_features",
    "text_langid",
    "text_tfidf",
    "dedup_exact",
    "dedup_fuzzy_minhash",
    "sim_topk_cosine",
    "sim_ann_ivf",
    # Event analytics, pipeline splits, CDC merge, time-range windows —
    # round-1 extensions (each sub-second at sf0.1; dedup_connected_components
    # is correctness-gated but excluded here: it re-runs the whole minhash
    # subtree, which dedup_fuzzy_minhash above already times).
    "events_funnel",
    "events_user_path",
    "window_time_range",
    "split_train_holdout",
    "merge_upsert",
    "agg_histogram",
    "text_bpe_tokens",
    "query_shipping_priority",
    "query_supplier_volume",
    "query_market_share",
    "query_returned_items",
    "events_anomaly_zscore",
    "window_rolling_distinct",
    "text_line_dedup",
    # Round-4 additions: training-data quality/decontamination family +
    # embedding compression.
    "text_repetition",
    "text_decontaminate",
    "text_idf_filter",
    "sim_pq_quantize",
    # Round-5 additions: scrub/quality/mixing stages + the composed IVF-PQ
    # ANN search.
    "text_pii_scrub",
    "text_quality_score",
    "sample_temperature",
    "embedding_normalize",
    "sim_ivfpq_search",
    # Round-5 additions, second batch: TPC-H Q14/Q17/Q19/Q22 shapes +
    # mixture sampling + per-class outlier mining (dedup_keep_best is
    # excluded: it re-times the minhash subtree dedup_fuzzy_minhash
    # already covers).
    "query_promo_revenue",
    "query_small_qty_revenue",
    "query_disjunctive_revenue",
    "query_dormant_customers",
    "sample_domain_mix",
    "embedding_outlier",
    "agg_sketch_union",
    "fn_variant",
    "join_runtime_bloom",
    # Round-5 additions, third batch: the remaining TPC-H shapes (the
    # heavier ones — Q5's 6-way star, Q21's stacked self-aggregation) +
    # vocab/chunk/LM-score/pair-geometry training-data ops.
    "query_local_supplier_volume",
    "query_waiting_suppliers",
    "query_order_count_distribution",
    "text_vocab_build",
    "text_doc_chunk",
    "text_unigram_logprob",
    "sim_pair_distance_stats",
    # Round-5 additions, fourth batch: ClickHouse-semantics joins,
    # incremental rollup merge, gap interpolation, file compaction.
    "join_any_left",
    "agg_incremental_merge",
    "window_interpolate_linear",
    "maintenance_compact_files",
    "multimodal_audio_window",
    "fn_timezone",
    "migrate_verify_diff",
    "window_ewma",
    "join_interval_overlap",
    "events_cohort_matrix",
    "fn_ip",
    "fn_encoding",
    "sim_index_build",
    "sim_index_query",
    # Round-5 additions, fifth batch: the last TPC-H shape (Q6), bivariate
    # regression stats, and substring-span dedup (the heaviest new op —
    # O(tokens) window hashing + two hash aggregates).
    "query_forecast_revenue",
    "agg_corr_regr",
    "dedup_substring_spans",
    "events_rfm",
    "udf_map_in_arrow",
    "sample_mix_epochs",
    "multimodal_phash_dedup",
    "agg_delta_sum",
    "join_asof_tolerance",
    "query_yearly_growth",
    "events_gap_stats",
    "sample_hard_negatives",
    "sample_perplexity_buckets",
    # Round-5 sixth batch: co-occurrence counts, corpus Zipf fit, the
    # char-entropy / compression-ratio quality signals, and the PCA
    # projection.
    "text_cooccurrence",
    "text_zipf_fit",
    "text_char_entropy",
    "text_compression_ratio",
    "embedding_pca_project",
    # Round-5 seventh batch: trigram novelty, bag intersection, and the
    # bucketed co-located join (layout write + exchange-free join/agg).
    "text_ngram_novelty",
    "set_intersect_all",
    "join_bucketed_colocated",
    "sink_partition_overwrite_dynamic",
    "filter_not_in_null_aware",
    # Round-7 additions (new-operator freeze lifted): simhash hamming
    # pairs, z-order encode/decode, hashing-trick features, exact
    # per-label centroids.
    "dedup_simhash_nn",
    "fn_morton",
    "text_hashing_vectorizer",
    "embedding_label_centroids",
    "pipeline_data_quality",
    "events_active_users",
    "fn_geohash",
    "sample_exact_quota",
    "agg_quantile_exact_weighted",
    # Round-8 additions: persisted-index incremental dedup. index_build
    # times the corpus banding + partitioned write; incremental times the
    # batch-vs-index serving path (pruned band read + bucket join).
    "dedup_index_build",
    "dedup_incremental",
    # index compaction (build + 2 appends + rewrite) and the streaming
    # ingest loop (2 micro-batches of lookup+append on a fresh index).
    "dedup_index_compact",
    "stream_incremental_dedup",
    # exact-set duplication histogram: one scan + two combiner-bounded
    # groupBys, no joins.
    "dedup_cluster_stats",
    # jaccard histogram at floor 0.80: the fuzzy-minhash plan + a
    # combiner-bounded groupBy over bins.
    "dedup_threshold_sweep",
    # (dedup_lsh_recall is correctness-gated but excluded here, the
    # dedup_connected_components precedent: it re-times the fuzzy-minhash
    # subtree plus an exact all-pairs side whose cost the gate measures
    # at sf0.01, not a serving-path number.)
    # Round-9 additions: tombstone deletes (lookup under tombstones;
    # compaction that physically applies them) and the incremental ANN
    # story (frozen-quantizer append; append-then-serve recall query).
    "dedup_incremental_deletes",
    "dedup_index_delete_compact",
    "sim_index_append",
    "sim_index_incremental",
    # ANN tombstone deletes (lookup under tombstones; compaction that
    # physically applies them with the quantizer untouched).
    "sim_index_delete",
    "sim_index_delete_compact",
    # Delete-during-ingest: two checkpoint-sharing availableNow runs with
    # a tombstone delete between them.
    "stream_incremental_dedup_deletes",
    # Round-9 session 2: entity resolution (distinct-name collapse +
    # df-capped token blocking + CC + survivorship), regex sequence
    # matching, source-level vocabulary overlap.
    "er_blocked_pairs",
    "er_clusters",
    "er_golden_record",
    "events_sequence_match",
    "text_source_overlap",
    "sample_mixture_weights",
    "dedup_url_canonical",
    "text_bigram_logprob",
    "maintenance_ttl_partition_drop",
    "stream_type_drift",
    "sink_time_travel",
    "dedup_embedding_apply",
    "maintenance_snapshot_vacuum",
    "er_incremental_match",
    "er_golden_record_incremental",
    "maintenance_partition_compact",
    "embedding_matryoshka_recall",
    "er_reordered_match",
    "fn_dict_hierarchy",
    "events_funnel_strict_order",
    "sample_token_quota",
    "query_growth_decomposition",
    "sink_shallow_clone",
    "scan_csv_permissive",
    # Round-10 additions: the persisted ER catalog index lifecycle
    # (VERDICT r9 items 2-3 — build once, serve per-batch from the
    # stored map/postings, grow and delete file-additively) and the ANN
    # quantizer-drift monitor (item 7).
    "er_index_build",
    "er_incremental",
    "er_index_append",
    "er_index_delete",
    "er_index_delete_compact",
    "sim_index_retrain_check",
]


# The r4-comparable pinned subset (exactly the 44 keys BENCH_r04.json
# parsed): reported in the printed JSON every round, never reordered or
# extended — extensions land in BENCH_FULL.json instead.
PINNED_44 = [
    "pricing_summary", "filter_predicate", "project_computed",
    "agg_groupby_hash", "agg_rollup", "join_inner_hash", "join_broadcast",
    "join_asof", "window_rank", "window_running", "dedup_replacing",
    "topk_per_group", "set_union_distinct", "fn_json", "udf_pandas_scalar",
    "udtf_explode", "stream_tumbling", "scan_jdbc",
    "migrate_sqlite_roundtrip", "multimodal_decode_features", "text_langid",
    "text_tfidf", "dedup_exact", "dedup_fuzzy_minhash", "sim_topk_cosine",
    "sim_ann_ivf", "events_funnel", "events_user_path", "window_time_range",
    "split_train_holdout", "merge_upsert", "agg_histogram",
    "text_bpe_tokens", "query_shipping_priority", "query_supplier_volume",
    "query_market_share", "query_returned_items", "events_anomaly_zscore",
    "window_rolling_distinct", "text_line_dedup", "text_repetition",
    "text_decontaminate", "text_idf_filter", "sim_pq_quantize",
]


def derived_ratios(timings: dict) -> dict:
    """Cross-query derived metrics (unit-tested in tests/test_bench_meta.py).

    ``dedup_incremental_vs_full`` (VERDICT r8 item 7): the incremental-
    dedup amortization claim as a tracked number — serving one batch
    against the persisted index vs re-running the full one-shot LSH.
    < 1.0 means the serving path already wins at this sf; the gap widens
    with corpus size (measured 0.25 at the 100× sweep) because the lookup
    cost is batch-bounded while the one-shot re-bands the whole corpus."""
    out: dict = {}
    if timings.get("dedup_fuzzy_minhash") and timings.get("dedup_incremental"):
        out["dedup_incremental_vs_full"] = round(
            timings["dedup_incremental"] / timings["dedup_fuzzy_minhash"], 4
        )
    # The ER-family twin of the metric above: resolving one batch against
    # the existing catalog vs re-clustering everything.  From r10 the
    # serving side is er_incremental — the op that reads the PERSISTED
    # catalog index (VERDICT r9 item 2; the r9 caveat that the serving
    # path re-clustered in-plan no longer applies).  The index-free
    # er_incremental_match ratio stays tracked beside it as the
    # re-derive-per-call baseline the stored artifact is beating.
    if timings.get("er_clusters") and timings.get("er_incremental"):
        out["er_incremental_vs_full"] = round(
            timings["er_incremental"] / timings["er_clusters"], 4
        )
    if timings.get("er_clusters") and timings.get("er_incremental_match"):
        out["er_rederive_vs_full"] = round(
            timings["er_incremental_match"] / timings["er_clusters"], 4
        )
    return out


def host_speed_probe(mib: int = 128, passes: int = 3) -> float:
    """Single-thread CPU canary: best-of-``passes`` seconds to SHA-256
    ``mib`` MiB of deterministic bytes.  Pure guest-side compute — no
    I/O, no JVM, no Spark — so the RATIO of two artifacts' probes
    measures how much faster/slower the HOST was between the runs.

    Why it exists (r12): this box is a microVM whose guest load average
    only counts guest-runnable tasks — hypervisor co-tenant steal slows
    every query uniformly while ``uptime`` reads 0.1.  Three rounds
    (r8, r11, r12) read phantom uniform bench lifts that had to be
    argued away as "host-load signature"; with the probe committed in
    ``derived.host_probe_sec``, tools/bench_compare.py divides the
    median query ratio by the probe ratio and the argument becomes a
    measurement."""
    import hashlib

    buf = bytes(range(256)) * (mib * 4096)  # 256 B pattern × 4096/MiB
    best = None
    for _ in range(passes):
        t0 = time.perf_counter()
        h = hashlib.sha256()
        step = 1 << 24
        for i in range(0, len(buf), step):
            h.update(buf[i : i + step])
        h.hexdigest()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    return round(best, 4)


def host_speed_probe_mt(mib: int = 64, passes: int = 3, threads: int = 8) -> float:
    """MULTICORE twin of host_speed_probe: ``threads`` driver threads each
    SHA-256 their own ``mib`` MiB concurrently (hashlib.update releases
    the GIL for buffers over 2 KiB, so the threads genuinely run in
    parallel); best-of-``passes`` wall seconds for the whole fan-out.

    Why a second probe (r12): two same-tree benches minutes apart read
    188 s and 210 s while the SINGLE-thread probe IMPROVED 0.144 → 0.116
    — hypervisor co-tenant steal can throttle aggregate multicore
    throughput while a lone thread still gets a full core, and Spark
    queries are multicore work.  The ratio of two artifacts' mt probes
    measures that capacity shift; tools/bench_compare.py prefers it over
    the single-thread ratio when both artifacts carry it.  The thread
    count is FIXED (not cpu_count) so the number stays comparable across
    runs whatever SPARK_GRAFT_CPUS says."""
    import hashlib
    from concurrent.futures import ThreadPoolExecutor

    buf = bytes(range(256)) * (mib * 4096)
    step = 1 << 24

    def _one(_: int) -> None:
        h = hashlib.sha256()
        for i in range(0, len(buf), step):
            h.update(buf[i : i + step])
        h.hexdigest()

    best = None
    with ThreadPoolExecutor(max_workers=threads) as pool:
        for _ in range(passes):
            t0 = time.perf_counter()
            list(pool.map(_one, range(threads)))
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
    return round(best, 4)


def main() -> None:
    # A private temp root, removed at exit: the engine's temp dirs and index
    # generation caches (io.cache_base) live under TMPDIR, so the cold pass
    # builds its own generations instead of reusing an earlier run's.
    tmp = tempfile.mkdtemp(prefix="graft_bench_")
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    host_probe = host_speed_probe()
    host_probe_mt = host_speed_probe_mt()
    # The StateStore maintenance thread fires on a 60s default interval; a
    # bench run long enough to cross a tick can have that thread race
    # session teardown and dump an IllegalStateException stack trace AFTER
    # the summary JSON (BENCH r03/r05/r11 all shipped parsed:null this
    # way).  Push the interval past any plausible bench duration so the
    # thread never fires; maintenance is background snapshot/cleanup and
    # has no bearing on short-lived-session correctness.
    spark = get_spark(
        "sqlite_to_clickhouse_spark-bench",
        extra_conf={"spark.sql.streaming.stateStore.maintenanceInterval": "3600s"},
    )
    registry = all_queries()

    names = [n for n in HEADLINE if n in registry]
    # Warm-up: JVM + codegen + parquet footer caches, not measured.
    with gio.scope():
        registry[names[0]].fn(spark, sf_dir).count()

    timings: dict[str, float] = {}
    rows: dict[str, int] = {}
    # Generated classes each timed call compiled, one entry per pass: a
    # second-pass figure above 0 means the code cache missed a recurring plan.
    compiles: dict[str, list[int]] = {}
    cold_total = 0.0
    for pass_no in (1, 2):
        for name in names:
            fn = registry[name].fn
            # The scope releases the call's cached frames and temp dirs
            # after the timed region, so no call reads another's leftovers.
            with gio.scope():
                c0 = codegen_compiles(spark)
                t0 = time.perf_counter()
                df = fn(spark, sf_dir)
                n = df.count()
                dt = time.perf_counter() - t0
            compiles.setdefault(name, []).append(codegen_compiles(spark) - c0)
            if pass_no == 1:
                cold_total += dt
            if name not in timings or dt < timings[name]:
                timings[name] = round(dt, 4)
            rows[name] = n
            print(f"# p{pass_no} {name}: {dt:.3f}s ({n} rows)", file=sys.stderr)
    total = sum(timings.values())

    # Derived throughput for the one workload the reference publishes a
    # number for (BASELINE.md: ~5 100 rows/s end-to-end SQLite→sink
    # migration): rows of the migrated table over the full
    # stage→extract→cast→dedup→write→read-back wall clock.
    derived = {
        "cold_total_sec": round(cold_total, 2),
        "full_total_sec": round(total, 4),
        "full_n": len(names),
        "host_probe_sec": host_probe,
        "host_probe_mt_sec": host_probe_mt,
    }
    if timings.get("migrate_sqlite_roundtrip"):
        derived["migrate_rows_per_s"] = round(
            rows["migrate_sqlite_roundtrip"] / timings["migrate_sqlite_roundtrip"]
        )

    derived.update(derived_ratios(timings))

    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    pinned = {n: round(timings[n], 3) for n in PINNED_44 if n in timings}
    summary = {
        "metric": "headline_queries_total",
        "value": round(sum(pinned.values()), 4),
        "unit": "sec",
        "queries": pinned,
        "sf": sf_val,
        "derived": derived,
    }
    # Full per-query record (every HEADLINE op) — committed alongside the
    # driver's BENCH_r{N}.json so round-over-round data never truncates.
    with open(os.path.join(REPO_ROOT, "BENCH_FULL.json"), "w") as fh:
        json.dump(
            {
                "metric": "full_headline_queries",
                "value": round(total, 4),
                "unit": "sec",
                "queries": timings,
                "rows": rows,
                "codegen_compiles": compiles,
                "sf": sf_val,
                "derived": derived,
                # The resolved session, so the artifact proves its own
                # configuration (kept out of the stdout summary line).
                "context": {
                    "master": spark.sparkContext.master,
                    "default_parallelism": spark.sparkContext.defaultParallelism,
                    "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
                    "codegen_cache_max_entries": spark.conf.get(
                        "spark.sql.codegen.cache.maxEntries"
                    ),
                    "codegen_compiles_total": codegen_compiles(spark),
                    # What the run left behind: cached RDDs, and entries in
                    # its private TMPDIR (the index generations included).
                    "persisted_rdds_left": spark.sparkContext._jsc.getPersistentRDDs().size(),
                    "tmp_entries_left": len(os.listdir(tmp)),
                },
            },
            fh,
            indent=1,
        )
    line = json.dumps(summary)
    # Hard output-size contract: the driver parses the final JSON line out
    # of the LAST 2000 bytes of output. Degrade by dropping per-query
    # detail rather than shipping an unparseable record.
    if len(line) > 1900:
        summary["queries"] = {}
        summary["derived"]["queries_in"] = "BENCH_FULL.json"
        line = json.dumps(summary)
    # Noise-ordering contract (VERDICT r11 item 1): the summary line must
    # be the process's literal LAST output, so ALL teardown — including
    # waiting for the gateway JVM to fully exit, the only writer that can
    # race a Python-side print — happens BEFORE the line is emitted.
    # Under a WATCHDOG: spark.stop()/gateway.shutdown() are unbounded
    # py4j round-trips, and a wedged executor must cost us teardown
    # quietness (the pre-r12 status quo), never the record itself.
    import threading

    t = threading.Thread(target=_teardown_quietly, args=(spark,), daemon=True)
    t.start()
    t.join(timeout=120)
    emit_summary_line(line)


def _teardown_quietly(spark) -> None:
    """Stop the session AND wait for the gateway JVM to exit.

    ``spark.stop()`` alone is not enough for the stdout contract: the py4j
    gateway JVM shares this process's stdout/stderr fds and its daemon
    threads (StateStore maintenance being the repeat offender — r03, r05,
    r11) can dump stack traces after Python's final print.  Silencing
    log4j, stopping the context, shutting the gateway down, and then
    blocking on the JVM child process guarantees no JVM writer exists by
    the time the summary line goes out.  Every step degrades soft — a
    teardown wobble must never eat the bench record.
    """
    proc = None
    try:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
    except Exception:
        pass
    try:
        spark.sparkContext.setLogLevel("FATAL")
    except Exception:
        pass
    try:
        spark.stop()
    except Exception:
        pass
    try:
        from pyspark import SparkContext

        if SparkContext._gateway is not None:
            SparkContext._gateway.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.wait(timeout=30)
        except Exception:
            pass


def emit_summary_line(line: str, out=None) -> None:
    """Print the summary JSON as the last thing this process writes.

    Flushes stderr first so buffered diagnostics from the run can't be
    flushed by the interpreter AFTER the summary line at exit, then writes
    and flushes the line itself.  Combined with ``_teardown_quietly`` this
    makes the driver's parse recipe (final JSON line of the last 2000
    bytes of combined output) immune to teardown noise.
    """
    stream = out if out is not None else sys.stdout
    try:
        sys.stderr.flush()
    except Exception:
        pass
    # Leading newline: a crashed prior writer can leave a PARTIAL line
    # (no trailing \n) in combined output; gluing the JSON onto it would
    # defeat the 'final JSON line' recipe for the cost of one byte.
    stream.write("\n" + line + "\n")
    stream.flush()


if __name__ == "__main__":
    main()
