"""NULL-input robustness: the differential gate must hold on a corpus
with NULLs injected into nullable non-key columns — dirty data is the
normal case at 100 TB, and NULL semantics are where Spark and standard
SQL quietly diverge (collect_list drops NULLs vs list() keeping them,
ASC defaults to NULLS FIRST vs NULLS LAST, format_string renders the
string 'null' where printf propagates NULL, GROUP BY pools NULL keys
that a join would never match).

The fixture injects a NULL into every 7th row of each nullable column
(deterministic), and each op below — the ones that crashed or
hash-diverged when this sweep first ran — is compared against its
DuckDB oracle on the SAME nulled parquet.
"""

from __future__ import annotations

import os

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

pytestmark = pytest.mark.mutant_sweep  # mutated-fixture sweep module (see README: three-command split)

from sqlite_to_clickhouse_spark.io import TABLES
from sqlite_to_clickhouse_spark.registry import all_queries
from tests.utils import assert_df_matches_oracle

_Q = all_queries()

_NULLABLE = {
    "customer": ["c_acctbal", "c_mktsegment"],
    "orders": ["o_totalprice", "o_orderpriority"],
    "lineitem": ["l_discount", "l_tax", "l_returnflag"],
    "events": ["value", "event_type"],
    "documents": ["text", "lang", "source"],
    "part": ["p_brand"],
    "embeddings": ["label"],
}

_OPS = [
    # crashed on NULLs before the guards
    "text_compression_ratio",
    "dedup_fuzzy_minhash",
    "dedup_index_build",
    "dedup_incremental",
    "dedup_index_compact",
    "stream_incremental_dedup",
    "dedup_cluster_stats",
    "dedup_threshold_sweep",
    "dedup_lsh_recall",
    # round-9: NULL text must tombstone/compact identically on both sides
    "dedup_incremental_deletes",
    "dedup_index_delete_compact",
    "stream_incremental_dedup_deletes",
    "udf_python",
    "multimodal_decode_features",
    "multimodal_audio_window",
    "multimodal_phash_dedup",
    # hash-diverged on NULL semantics before the parity fixes
    "scan_jdbc",
    "agg_entropy",
    "window_ntile",
    "window_ewma",
    "fn_string",
    "fn_url",
    "fn_format",
    "udf_pandas_cogrouped",
    # NULL partition keys round-trip through __HIVE_DEFAULT_PARTITION__
    "sink_partition_overwrite_dynamic",
    # round-6 full-registry sweep finding: rank tie-break on a NULL
    # event_type diverged (Spark ASC = NULLS FIRST, DuckDB = NULLS LAST);
    # both sides now pin NULLS FIRST.
    "stream_windowed_topk",
    # round-7 additions: NULL text / NULL label paths
    "dedup_simhash_nn",
    "text_hashing_vectorizer",
    "embedding_label_centroids",
    # profiles nulled o_totalprice / o_orderpriority columns directly
    "pipeline_data_quality",
    # NULL ts/user filter parity in the distinct day-user reduction
    "events_active_users",
    # NULL lang partitions must rank identically in both engines
    "sample_exact_quota",
    # NULL price/quantity rows must drop identically pre-merge
    "agg_quantile_exact_weighted",
    # round-9 session 2: NULL p_brand vote tie-break diverged (Spark ASC =
    # NULLS FIRST vs DuckDB NULLS LAST — caught by the adversarial sweep,
    # pinned to NULLS LAST both sides); NULL p_name / text / event rows
    # must drop or group identically through blocking and sequencing.
    "er_blocked_pairs",
    "er_clusters",
    "er_golden_record",
    "events_sequence_match",
    "text_source_overlap",
    # NULL text (token sums) and NULL source (group key) must plan and
    # canonicalize identically
    "sample_mixture_weights",
    "dedup_url_canonical",
    # NULL text drops from the bigram stream; NULL o_orderdate rows must
    # EXPIRE (__HIVE_DEFAULT_PARTITION__ dropped, oracle WHERE rejects NULL)
    "text_bigram_logprob",
    "maintenance_ttl_partition_drop",
    # NULL ts must window/bucket identically through the stream and the
    # batch oracle
    "stream_type_drift",
    # NULL o_totalprice must drop from both engines' cent sums; NULL
    # o_orderkey routes to neither snapshot slice identically
    "sink_time_travel",
    # NULL embeddings: own pairs threshold-dropped on both sides, the
    # row still keep-labels itself (dedup_embedding_bucketed precedent)
    "dedup_embedding_apply",
    # NULL keys/prices flow through compaction + vacuum identically
    "maintenance_snapshot_vacuum",
    # NULL p_name / p_partkey rows must route to neither side's distinct
    # name set identically
    "er_incremental_match",
    # NULL brands/prices must merge through the partial-aggregate
    # algebra identically (votes, min/max folds)
    "er_golden_record_incremental",
    # NULL dates ride the default partition through the cold rewrite
    "maintenance_partition_compact",
    # NULL labels irrelevant; embedding column itself is never nulled by
    # the mutant, but the op must stay hash-stable on the mutated corpus
    "embedding_matryoshka_recall",
    # NULL names drop from both sides' distinct sets identically
    "er_reordered_match",
    # NULL event_type codes to the literal 'null'? No: substr(NULL)=NULL
    # drops from concat_ws on both sides — pinned by the sweep
    "events_funnel_strict_order",
    # NULL text = 0-token docs and NULL source groups must fill quotas
    # identically
    "sample_token_quota",
    # NULL l_discount rows must drop from both engines' cent sums
    "query_growth_decomposition",
    # NULL keys route to neither slice; cent sums drop NULLs identically
    "sink_shallow_clone",
    # a NULL key stages as the literal empty field and parses back NULL
    # (good row) on both sides
    "scan_csv_permissive",
    # round-10: the persisted ER index must route NULL-adjacent rows
    # (nulled brands never touch nm-keyed relations; NULL-padded part
    # rows collapse identically into distinct names) and the drift
    # monitor must stay decision-stable on the mutated embedding corpus
    "er_index_build",
    "er_incremental",
    "er_index_append",
    "er_index_delete",
    "er_index_delete_compact",
    "sim_index_retrain_check",
    # NULL text through the one doc-token frame and its consumers: the
    # SimHash kernel maps a NULL token array to 0 like the oracle's NULL
    # votes, the exact joins drop NULL-token docs, and the doc-cluster
    # pipeline labels them their own cluster.
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "dedup_containment",
    "dedup_connected_components",
    "dedup_corpus_apply",
    "dedup_keep_best",
]


@pytest.fixture(scope="module")
def null_sf_dir(sf_dir, tmp_path_factory):
    dst = tmp_path_factory.mktemp("sf_nulls")
    for t in TABLES:
        tab = pq.read_table(os.path.join(sf_dir, f"{t}.parquet"))
        n = tab.num_rows
        cols = {}
        for name in tab.schema.names:
            col = tab.column(name)
            if name in _NULLABLE.get(t, []):
                mask = pa.array([(i % 7) == 3 for i in range(n)])
                col = pc.if_else(
                    mask,
                    pa.nulls(n, type=tab.schema.field(name).type),
                    col.combine_chunks(),
                )
            cols[name] = col
        pq.write_table(pa.table(cols), str(dst / f"{t}.parquet"))
    return str(dst)


@pytest.fixture(scope="module")
def null_duck(null_sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM '{null_sf_dir}/{t}.parquet'"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", _OPS)
def test_oracle_match_with_nulls(spark, null_duck, null_sf_dir, name):
    q = _Q[name]
    df = q.fn(spark, null_sf_dir)
    if q.oracle is None:
        assert df.count() >= 0 and df.columns
    else:
        assert_df_matches_oracle(df, null_duck, q.oracle, name=name)


_ER_IDX_OPS = [
    "er_index_build",
    "er_incremental",
    "er_index_append",
    "er_index_delete",
    "er_index_delete_compact",
    "er_blocked_pairs",
    "er_clusters",
]


@pytest.mark.mutant_keycol
@pytest.mark.parametrize("name", _ER_IDX_OPS)
def test_er_ops_under_null_names(spark, sf_dir, tmp_path_factory, name):
    """The shared null mutant never nulls p_name — the ER family's KEY
    column — so this dedicated mutant does (every 7th part row), pinning
    the NULL-name path end-to-end: a NULL name explodes to no blocking
    words, pairs with nothing, maps to a NULL entity on BOTH engines,
    can never be tombstone-matched, and must hash identically through
    the persisted store's LWW window and the recursive-CTE oracles."""
    dst = tmp_path_factory.mktemp("sf_null_names")
    for t in TABLES:
        tab = pq.read_table(os.path.join(sf_dir, f"{t}.parquet"))
        if t == "part":
            n = tab.num_rows
            mask = pa.array([(i % 7) == 3 for i in range(n)])
            cols = {c: tab.column(c).combine_chunks() for c in tab.schema.names}
            cols["p_name"] = pc.if_else(
                mask, pa.nulls(n, type=tab.schema.field("p_name").type),
                cols["p_name"],
            )
            tab = pa.table(cols)
        pq.write_table(tab, str(dst / f"{t}.parquet"))
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{dst}/{t}.parquet'"
        )
    try:
        q = _Q[name]
        assert_df_matches_oracle(
            q.fn(spark, str(dst)), con, q.oracle, name=f"{name}_nullnames"
        )
    finally:
        con.close()


@pytest.mark.mutant_keycol
def test_csv_permissive_null_key_roundtrip(spark, sf_dir, tmp_path):
    """ADVICE r9 (medium): NULL fields must stage as EMPTY CSV fields, not
    the literal string 'None' — a 'None' n_nationkey failed the Long parse
    and counted as corrupt on the Spark side while the oracle counted it
    in neither bucket.  The shared null mutant never nulls nation, so this
    dedicated mutant nulls the key (i%7==5), name (i%7==6) and regionkey
    (i%7==2) — residues disjoint from the corruptible key%7==3 rows so the
    corrupt path stays exercised — and runs the full differential."""
    tab = pq.read_table(os.path.join(sf_dir, "nation.parquet"))
    n = tab.num_rows
    residue = {"n_nationkey": 5, "n_name": 6, "n_regionkey": 2}
    cols = {}
    for name in tab.schema.names:
        col = tab.column(name).combine_chunks()
        if name in residue:
            mask = pa.array([(i % 7) == residue[name] for i in range(n)])
            col = pc.if_else(mask, pa.nulls(n, type=tab.schema.field(name).type), col)
        cols[name] = col
    dst = tmp_path / "corpus"
    dst.mkdir()
    pq.write_table(pa.table(cols), str(dst / "nation.parquet"))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW nation AS SELECT * FROM '{dst}/nation.parquet'")
    try:
        q = _Q["scan_csv_permissive"]
        assert_df_matches_oracle(
            q.fn(spark, str(dst)), con, q.oracle, name="scan_csv_permissive_nullkey"
        )
    finally:
        con.close()
