"""Deduplication operators for training-data pipelines (SURVEY.md §2b:
dedup_* family; the reference's only dedup is ReplacingMergeTree
last-write-wins, /root/reference/main.py:65,178 — see windows.dedup_replacing
for that analog; this module is the content-dedup family an LLM corpus
needs).

Scale design:
- `dedup_exact` is a hash shuffle on a 256-bit digest — O(n), the digest
  is the shuffle key so byte-identical docs co-locate regardless of size.
- `dedup_fuzzy_minhash` is real LSH: signatures are computed with array
  lambdas (no shuffle), candidate generation shuffles only (band_id,
  band_key) buckets, and the exact-Jaccard verification runs on candidate
  pairs, never all pairs. All-pairs O(n²) appears ONLY in the DuckDB
  oracle (which must enumerate ground truth at toy scale).
- One hash family: md5 truncated to 60 bits, bit-identical in Spark and
  DuckDB, which is what lets the LSH pipeline be differentially tested
  end-to-end.

Kernels, each written once: ``_doc_tokens`` (the doc-token frame, over
text.py's ``_tokens``); ``_with_band_keys`` (MinHash signatures and band
keys); ``_verify_jaccard`` (the exact-Jaccard verify every candidate
generator feeds: band joins, index lookups, prefix-filtered joins);
``_expand_reps`` (representative pairs to member pairs);
``_doc_components`` (docs -> LSH pairs -> connected components) with its
oracle prefix ``_REACH_SQL``; ``_simhash_fp`` (the SimHash vote kernel)
with its SQL spelling ``_simhash_votes_sql``.

MinHash/LSH parameters: 48 hash functions, 4 bands × 12 rows, Jaccard
threshold 0.95. Band-collision probability is J¹², so a J=0.99 pair is
caught with P = 1-(1-0.99¹²)⁴ ≈ 0.9998, a J=0.95 pair with ≈ 0.955,
while a J=0.8 pair collides with only P ≈ 0.25 and J=0.7 with ≈ 0.05.
The steep r=12 curve matters because realistic corpora (and the
synthetic fixture) contain mountains of moderate-similarity pairs: with
the naive 2-rows-per-band scheme the fixture produced 11.3M candidates
from 5 000 docs (90 % of all pairs, LSH degenerated to the O(n²) plan it
exists to avoid); r=8×6 still admitted 4.1M (33 %); r=12×4 admits ~1.5M
while keeping near-exact dups — the threshold band the 0.95 cutoff
actually targets — at >99.9 % recall.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sqlite_to_clickhouse_spark import io as gio
from sqlite_to_clickhouse_spark.io import table
from sqlite_to_clickhouse_spark.operators.text import _tokens
from sqlite_to_clickhouse_spark.registry import register

N_HASHES = 48
N_BANDS = 4
ROWS_PER_BAND = 12
JACCARD_T = 0.95
SIMHASH_BITS = 24
# Affine universal-hash family for the minhash signatures: one md5 per
# token (the 60-bit base hash also used by the verify stage), then per
# seed s the cheap 64-bit arithmetic (2s+1)·h + b_s mod M31 — instead of
# 48 md5 calls per token. Identical in DuckDB, so the construction stays
# differentially testable.
MERSENNE31 = 2_147_483_647
AFFINE_MULT = 2_654_435_761  # Knuth's 2^32/phi multiplier for b_s spread


def _doc_tokens(d: DataFrame, *cols: str) -> DataFrame:
    """(doc_id, *cols, tk): each document's distinct whitespace tokens --
    the one doc-token frame every near-dup op starts from."""
    return d.select(
        "doc_id", *cols, F.array_distinct(_tokens(F.col("text"))).alias("tk")
    )


@register(
    "dedup_exact",
    oracle="""
    SELECT doc_id, sha256(text) AS content_hash
    FROM documents
    WHERE doc_id IN (
      SELECT MIN(doc_id) FROM documents GROUP BY sha256(text)
    )
    """,
    tags=("llm", "dedup"),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content digest: keep the lowest doc_id per sha256.

    One shuffle on the digest; the window rank never materializes groups
    (per-partition sort scan). Deterministic keeper (min doc_id) rather
    than dropDuplicates' arbitrary-first — required for the differential
    check and for reproducible pipelines under retries.
    """
    d = table(spark, sf_dir, "documents")
    w = Window.partitionBy("content_hash").orderBy("doc_id")
    return (
        d.select("doc_id", F.sha2(F.col("text"), 256).alias("content_hash"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "content_hash")
    )


_JACCARD_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, lang,
             list_distinct(list_filter(string_split(text, ' '), t -> t <> '')) AS tk
      FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           ROUND(CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE)
                 / (len(a.tk) + len(b.tk) - len(list_intersect(a.tk, b.tk))), 6) AS jaccard
    FROM toks a JOIN toks b
      ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE)
          / (len(a.tk) + len(b.tk) - len(list_intersect(a.tk, b.tk))) >= {JACCARD_T}
"""


def _ranked_postings(toks: DataFrame, t_num: int, t_den: int) -> DataFrame:
    """Postings with the machinery for exact prefix filtering.

    Each document's distinct tokens are ranked rarest-first under a global
    total order (document frequency within the language, token string as
    tie-break) — the ordering from the ALL-PAIRS / PPJoin family. Output
    columns per posting: doc_id, lang, token, sz (doc's set size), rank
    (1-based position in the global order), and o = ceil(t·sz), the
    minimum overlap a partner must share with THIS doc at threshold
    t = t_num/t_den. o is computed in integer arithmetic ((t_num·sz +
    t_den − 1) div t_den): a float ceil(0.95·20) = ceil(19.000…004) = 20
    would SHORTEN the prefix below the theorem's bound and silently drop
    true pairs.
    """
    sized = toks.withColumn("sz", F.size("tk").cast("long"))
    postings = sized.select("doc_id", "lang", "sz", F.explode("tk").alias("token"))
    df_counts = postings.groupBy("lang", "token").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "token")
    return (
        postings.join(df_counts, ["lang", "token"])
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .withColumn("o", F.expr(f"({t_num} * sz + {t_den} - 1) div {t_den}"))
    )


def jaccard_prefix_candidates(toks: DataFrame, t_num: int, t_den: int) -> DataFrame:
    """Candidate (doc_a, doc_b) pairs for an exact Jaccard-threshold join,
    via symmetric prefix filtering.

    Theorem (prefix filter): if |A∩B| ≥ o, the first |A|−o+1 tokens of A
    and the first |B|−o+1 of B under a shared total order intersect.
    J(A,B) ≥ t implies |A∩B| ≥ ceil(t·max(|A|,|B|)) ≥ ceil(t·|X|) for
    each side X, so joining only prefix postings (rank ≤ sz − o + 1) loses
    no qualifying pair — the result is EXACT, not approximate. A stopword
    with df ≈ n ranks last in every document and never enters a prefix,
    which removes the O(df²) hot-token blowup of the naive inverted-index
    join. The size-ratio filter (t·max ≤ min, also implied by J ≥ t) cuts
    cross-size pairs before the shuffle output materializes.
    """
    prefix = _ranked_postings(toks, t_num, t_den).filter(
        F.col("rank") <= F.col("sz") - F.col("o") + 1
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.token") == F.col("b.token"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (
                t_den * F.least(F.col("a.sz"), F.col("b.sz"))
                >= t_num * F.greatest(F.col("a.sz"), F.col("b.sz"))
            ),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


@register("dedup_ngram_jaccard", oracle=_JACCARD_ORACLE, tags=("llm", "dedup"))
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard near-dup pairs within each language shard.

    Two-stage exact plan (Vernica–Carey–Li shape): (1) candidate pairs
    from a prefix-filtered inverted index — see jaccard_prefix_candidates
    for the theorem; hot tokens never enter prefixes, so no posting-list
    self-join blowup — then (2) exact verification of only the candidates
    against the full token arrays. Both stages are exact, so the oracle
    remains the direct all-pairs enumeration (fine at toy scale) with no
    construction mirroring needed.
    """
    toks = _doc_tokens(table(spark, sf_dir, "documents"), "lang")
    cand = jaccard_prefix_candidates(toks, 19, 20)  # 19/20 == 0.95 exactly
    tokh = toks.select(F.col("doc_id").alias("__id"), F.col("tk").alias("__tk32"))
    return _verify_jaccard(cand.toDF("id_a", "id_b"), tokh, JACCARD_T).toDF(
        "doc_a", "doc_b", "jaccard"
    )


def _minhash_oracle(pair_pred: str = "TRUE", threshold: float = JACCARD_T) -> str:
    band_pairs = ", ".join(
        f"CAST(('0x' || substring(md5('{i}|' || "
        + " || '|' || ".join(
            f"CAST(sig[{i * ROWS_PER_BAND + r + 1}] AS VARCHAR)"
            for r in range(ROWS_PER_BAND)
        )
        + "), 1, 15)) AS BIGINT)"
        for i in range(N_BANDS)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id,
             list_distinct(list_filter(string_split(text, ' '), t -> t <> '')) AS tk
      FROM documents
    ),
    hashed AS (
      SELECT doc_id, tk,
             list_transform(tk,
               t -> CAST(('0x' || substring(md5(t), 1, 15)) AS BIGINT)) AS tkh
      FROM toks
    ),
    hashed32 AS (
      SELECT doc_id, tkh,
             list_distinct(list_transform(tkh, h -> h & 2147483647)) AS tk32
      FROM hashed
    ),
    sigs AS (
      SELECT doc_id, tkh,
             list_transform(range({N_HASHES}),
               s -> list_aggregate(
                      list_transform(tkh,
                        h -> ((2 * s + 1) * (h % {MERSENNE31})
                              + (s * {AFFINE_MULT}) % {MERSENNE31})
                             % {MERSENNE31}),
                      'min')) AS sig
      FROM hashed
    ),
    bands AS (
      SELECT s.doc_id, h.tk32, unnest([{band_pairs}]) AS bk
      FROM sigs s JOIN hashed32 h ON s.doc_id = h.doc_id
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.tk32 AS tk_a, b.tk32 AS tk_b
      FROM bands a JOIN bands b
        ON a.bk = b.bk AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           ROUND(CAST(len(list_intersect(tk_a, tk_b)) AS DOUBLE)
                 / (len(tk_a) + len(tk_b) - len(list_intersect(tk_a, tk_b))), 6) AS jaccard
    FROM cand
    WHERE CAST(len(list_intersect(tk_a, tk_b)) AS DOUBLE)
          / (len(tk_a) + len(tk_b) - len(list_intersect(tk_a, tk_b))) >= {threshold}
      AND ({pair_pred})
    """


@register("dedup_fuzzy_minhash", oracle=_minhash_oracle(), tags=("llm", "dedup"))
def dedup_fuzzy_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-duplicate pairs, exact-Jaccard verified.

    Pipeline (shingle → exact-set collapse → minhash → band →
    bucket-join → verify → expand; the collapse/expand stages are the
    round-8 addition — see minhash_lsh_pairs, which documents why only
    one representative per distinct token set enters banding):
    1. distinct tokens per doc (the 1-gram shingle set), one md5 per
       token → 60-bit base hash (shared with the verify stage);
    2. 48 affine min-hashes per doc — (2s+1)·h + b_s mod M31 over the
       base hashes, pure codegen'd long arithmetic (the md5-per-seed
       variant spent ~40 % of the whole pipeline hashing);
    3. 4 band keys (12 sig rows each) per doc, exploded. The band id is
       folded INTO a band md5 and the digest truncated to a 60-bit long,
       so the bucket join hashes/compares 8-byte integers, not 32-char
       strings in a struct;
    4. self-join on the long band key carrying ONLY (doc_id, key) —
       then distinct (doc_a, doc_b). Token arrays are deliberately NOT
       carried here: a pair can collide in up to 4 bands, so rows
       entering the distinct are multiplied, and hauling two token
       arrays per raw collision is what turns LSH into a multi-GB
       shuffle.
    5. join the slim verified-candidate list back to the token table
       (tiny vs. the pair list — the planner broadcasts it at bench
       scale, and at cluster scale it degrades to a clean shuffle join
       on doc_id) and compute exact token-set Jaccard, threshold 0.95.
       The verify intersects md5-derived token hashes masked to 31
       bits and held as array<int> — not strings, not longs: int
       arrays pack at 4 B/element in Tungsten, halving the per-pair
       bytes hauled through the verify join's shuffle (the stage that
       spilled at the 100× scale check). The mask + distinct is
       mirrored in the oracle, so any in-doc collision (P ≈ 1e-5 per
       doc) merges identically on both sides.

    The oracle runs the SAME md5-minhash construction in DuckDB, so the
    candidate sets match bit-for-bit and the whole LSH path — not just
    the final Jaccard — is differentially tested.
    """
    toks = _doc_tokens(table(spark, sf_dir, "documents"))
    return minhash_lsh_pairs(toks, "doc_id", "tk").toDF("doc_a", "doc_b", "jaccard")


def _base_hash(t):
    """A token's 60-bit base hash: md5 truncated to 15 hex digits."""
    return F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")


def _band_key(i, parts):
    """Band i's 8-byte key over its signature rows ``parts``."""
    return F.conv(
        F.substring(F.md5(F.concat_ws("|", F.lit(str(i)), *parts)), 1, 15),
        16,
        10,
    ).cast("long")


def _hashed_tokens(df: DataFrame, id_col: str, tokens_col: str) -> DataFrame:
    """(__id, __tk, __tkh): the tokens and their base hashes (one per token,
    shared by the kernel, the set key and the verify tokens)."""
    return df.select(
        F.col(id_col).alias("__id"), F.col(tokens_col).alias("__tk")
    ).withColumn("__tkh", F.transform(F.col("__tk"), _base_hash))


def _tk32() -> "F.Column":
    """Verify tokens of a _hashed_tokens row: distinct 31-bit-masked hashes
    as array<int> (4 B/element in Tungsten, half the bytes of longs)."""
    return F.array_distinct(
        F.transform("__tkh", lambda h: h.bitwiseAND(F.lit(MERSENNE31)).cast("int"))
    )


def _with_band_keys(toks: DataFrame) -> DataFrame:
    """The non-blank rows of a _hashed_tokens frame plus ``bks``, the doc's
    N_BANDS 8-byte band keys.  The one signature kernel: the corpus path
    (minhash_bands_tokens) and the serving path (_batch_frame) both call
    it, so they can never band differently.

    Affine minhash over the base hash: per seed s,
    min((2s+1)·(h mod M31) + b_s mod M31).  The N_HASHES mins are an
    Arrow-batched pandas UDF doing the same exact int64 arithmetic as a
    (seeds × tokens) numpy broadcast.  The previous JVM spelling — an
    N_HASHES-wide array(array_min(transform(...))) tree — is evaluated as
    interpreted higher-order functions (never whole-stage codegen) and
    cost more to analyze+compile than to run at any SF; the kernel is
    bit-identical (intermediates < 2^38, no int64 overflow) so the DuckDB
    oracle is unchanged."""
    from pyspark.sql import types as T

    seeds = np.arange(N_HASHES, dtype=np.int64)
    mults = 2 * seeds + 1
    offs = (seeds * AFFINE_MULT) % MERSENNE31

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _sig_kernel(tkh: pd.Series) -> pd.Series:
        out = []
        for arr in tkh:
            if arr is None:  # NULL text -> NULL token array -> NULL signature
                out.append([None] * len(seeds))
                continue
            h = np.asarray(arr, dtype=np.int64) % MERSENNE31
            if h.size == 0:
                out.append([None] * len(seeds))
                continue
            m = (mults[:, None] * h[None, :] + offs[:, None]) % MERSENNE31
            out.append(m.min(axis=1))
        return pd.Series(out)

    # Drop token-less docs (blank/whitespace/NULL text) BEFORE the kernel,
    # on the token array itself: the old spelling filtered on
    # element_at(sig, 1).isNotNull() AFTER the kernel, and the optimizer
    # pushed that filter below the caller's representative join — dragging
    # a SECOND full-corpus ArrowEvalPython evaluation of the kernel with it
    # (guide §4.4 duplicated-UDF; plans/r13 fuzzy_minhash before/after:
    # the kernel over the raw documents scan is gone).  Equivalent by
    # construction: sig[1] is NULL iff the token array is NULL or empty
    # (the kernel emits [None]*n for both), and non-empty arrays always
    # produce non-NULL mins.  size() covers NULL under both ANSI (NULL)
    # and legacy (-1) semantics — neither passes > 0.
    sigs = toks.filter(F.size("__tk") > 0).withColumn(
        "sig", _sig_kernel(F.col("__tkh"))
    )
    band_keys = F.array(
        *[
            _band_key(
                i,
                [
                    F.element_at("sig", i * ROWS_PER_BAND + r + 1)
                    for r in range(ROWS_PER_BAND)
                ],
            )
            for i in range(N_BANDS)
        ]
    )
    return sigs.withColumn("bks", band_keys).drop("sig")


def minhash_bands_tokens(df: DataFrame, id_col: str, tokens_col: str):
    """Signature/banding front half of the MinHash-LSH pipeline over a
    corpus, shared by the one-shot pair search (minhash_lsh_pairs) and
    the index build (minhash_index_build).  The kernel and band keys come
    from _with_band_keys, which the serving path's batch frame calls too.

    Returns ``(bands, tokh)``:

    - ``bands``: one row per (doc, band) — ``(__id, bk)`` with ``bk`` the
      8-byte band key.  Token-less documents (blank/whitespace text) are
      dropped here: their all-null signatures would otherwise share the
      constant empty-band keys and form ONE quadratic hot bucket (the
      classic LSH blank-document blowup), and their pairs are
      verify-stage no-ops anyway (NULL Jaccard).
    - ``tokh``: ``(__id, __tk32)`` — the doc's verify tokens (_tk32).
    """
    toks = _hashed_tokens(df, id_col, tokens_col)
    # No persist: the band table feeds both sides of the self-join, and the
    # r1-era persist here was a 4× win when signatures were an interpreted
    # md5-per-seed expression tree. After the affine+Arrow kernel rework the
    # subtree is cheap to recompute, and an r5 A/B at 10× measured the
    # persist at 73 s vs 32 s without (materialization + InMemoryRelation
    # scan costs dominate recompute; at 1× the difference is noise). Let
    # both join branches pipeline from the scan.
    bands = _with_band_keys(toks).select("__id", F.explode("bks").alias("bk"))
    tokh = toks.select("__id", _tk32().alias("__tk32"))
    return bands, tokh


def _bucket_pairs(bands: DataFrame) -> DataFrame:
    """Within-bucket candidate pairs (id_a < id_b) from a (__id, bk) band
    relation — the LSH self-join restructured as ONE pass (r13, VERDICT
    r12 item 3): groupBy the band key, collect the bucket's distinct ids,
    expand i<j pairs with JVM higher-order functions.  The classic
    ``bands.alias("a").join(bands.alias("b"), a.bk == b.bk & a.id < b.id)``
    evaluates the bands SUBTREE — scan + representative join + the
    ArrowEvalPython signature kernel — once per join side; this shape
    consumes it once, and shuffles the thin (bk, id) rows once instead of
    twice.  Exactly the join's candidate set: collect_set dedupes the
    (id, bk) duplicates a two-band collision produces (the join's
    duplicates die in the downstream pair-distinct anyway), sort + slice
    enumerates each unordered pair once with id_a < id_b, and NULL band
    keys are dropped as SQL join equality would (bk is never NULL
    post-banding, but the filter keeps the equivalence unconditional)."""
    ids = F.sort_array(F.collect_set("__id"))
    buckets = (
        bands.filter(F.col("bk").isNotNull())
        .groupBy("bk")
        .agg(ids.alias("ids"))
        .filter(F.size("ids") > 1)
    )
    pair_arr = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + F.lit(2), F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    return buckets.select(F.explode(pair_arr).alias("p")).select(
        F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b")
    )


def _packed_distinct(pairs: DataFrame) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b in, ids < 2^32): pack the
    pair into ONE long so the dedup shuffle hashes a single 8-byte key —
    a pair can collide in up to N_BANDS bands, so rows entering the
    distinct are multiplied, and this stage's bytes dominate the LSH
    shuffle."""
    return (
        pairs.select(
            (F.col("id_a") * F.lit(2**32) + F.col("id_b")).alias("pair")
        )
        .dropDuplicates()
        .select(
            F.expr(f"pair div {2**32}").alias("id_a"),
            (F.col("pair") % F.lit(2**32)).alias("id_b"),
        )
    )


def _verify_jaccard(
    cand: DataFrame,
    tokh: DataFrame,
    threshold: float,
) -> DataFrame:
    """The one exact-Jaccard verifier: (id_a, id_b) candidates in,
    (id_a, id_b, jaccard >= threshold) out, scored against the
    (__id, __tk32) token store (any element type).  The candidates join
    back to the tokens (tiny vs. the raw collision list — the planner
    broadcasts it at bench scale, and at cluster scale it degrades to a
    clean shuffle join on doc id) and are thresholded on the exact
    token-set Jaccard.  Every
    candidate generator calls it: the MinHash band join (one-shot and
    index lookup) and the prefix-filtered exact joins
    (dedup_ngram_jaccard over string tokens, dedup_lsh_recall).  The
    MinHash paths verify on 31-bit int arrays (4 B/element) rather than
    longs, which halves the bytes hauled through this join's shuffle —
    the one stage that spilled at the 100× scale check (SURVEY §6.1);
    the mask + distinct is mirrored in the DuckDB oracle (hashed32
    CTE)."""
    ta, tb = tokh.alias("ta"), tokh.alias("tb")
    pairs = (
        cand.join(ta, F.col("id_a") == F.col("ta.__id"))
        .join(tb, F.col("id_b") == F.col("tb.__id"))
        .select(
            "id_a", "id_b",
            F.col("ta.__tk32").alias("tk_a"), F.col("tb.__tk32").alias("tk_b"),
        )
    )
    n_inter = F.size(F.array_intersect("tk_a", "tk_b")).cast("double")
    # try_divide: two EMPTY token sets (blank documents band together via
    # their all-null signatures) make the union size 0 — NULL Jaccard,
    # which the threshold filter drops, exactly like the oracle where
    # DuckDB division by zero yields NULL. Never a candidate, never a
    # crash (ANSI mode turns bare / into DIVIDE_BY_ZERO).
    jac = F.try_divide(n_inter, F.size("tk_a") + F.size("tk_b") - n_inter)
    return pairs.filter(jac >= threshold).select(
        "id_a", "id_b", F.round(jac, 6).alias("jaccard")
    )


def _set_keyed(df: DataFrame, id_col: str, tokens_col: str) -> DataFrame:
    """(__id, __set) for every non-blank doc, where __set is the doc's
    FULL sorted distinct token-hash array — the exact cluster key of the
    round-8 collapse.  Same token SET ⟹ same __set ⟹ same minhash
    signature ⟹ same band keys, so clustering on __set is lossless for
    candidate generation by construction (never probabilistic: the key
    is the array itself, not a hash of it).  Blank/NULL docs are dropped
    here exactly as the banding stage drops them."""
    return df.select(
        F.col(id_col).alias("__id"),
        F.array_sort(
            F.array_distinct(F.transform(F.col(tokens_col), _base_hash))
        ).alias("__set"),
    ).filter(F.size("__set") > 0)


def _clusters(keyed: DataFrame) -> DataFrame:
    """(__id, __rep) membership: representative = min id per distinct
    set.  groupBy gets map-side partial aggregation (a boilerplate
    cluster collapses before the wire); the join back is doc-linear.
    (r13 note: a window-min spelling — one exchange instead of
    groupBy+join — was interleaved-A/B'd on the streaming handler cycle
    and came out a wash locally while adding a full array-key SORT for
    corpus-scale callers, so the hash-aggregation shape stays.)

    PERSISTED (gio.persist): every caller fans the membership into
    3-5 downstream joins (rep filter, two expansion sides, within-pairs
    expansion), and each re-evaluation would repeat the array-keyed
    groupBy+join over the full token-hash arrays — measured 2x whole-op
    wall at sf0.1 when left to recompute.  The frame is two longs per
    doc (tiny relative to the arrays it derives from), identical plans
    share one cache entry across invocations, and eviction is safe (it
    recomputes)."""
    reps = keyed.groupBy("__set").agg(F.min("__id").alias("__rep"))
    return gio.persist(keyed.join(reps, "__set").select("__id", "__rep"))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    *,
    threshold: float = JACCARD_T,
) -> DataFrame:
    """Generic MinHash-LSH near-dup pairs (library API): rows (id, token
    array) in, verified pairs (id_a, id_b, jaccard >= threshold) out.

    Requires ids < 2^32 (pairs are packed into one 64-bit key for the
    dedup shuffle). Plan shape and rationale: see dedup_fuzzy_minhash.
    Tokens hash with md5 truncated to a 60-bit long, bit-identical in
    DuckDB, so the whole LSH path is differentially gate-tested.

    **Exact-set collapse (round 8).** Identical token SETS share the
    signature, the band keys, AND the Jaccard against every third doc —
    so only one REPRESENTATIVE per distinct set enters banding, and the
    cluster structure answers the rest analytically: within-cluster
    pairs are J=1.0 by identity, and each verified representative pair
    expands to all member cross pairs carrying the same Jaccard.  This
    is the dedup_simhash_nn collapse applied to MinHash, and it is what
    keeps boilerplate-heavy corpora (the 100 TB norm) from going
    cluster-quadratic through the band join: the sf0.1 fixture's 248-doc
    exact cluster alone contributed ~246 k of the 3.3 M pre-collapse
    collision rows, and the verify stage intersected 2.05 M candidate
    pairs where ~2 k representative pairs carried all the information
    (measured round 8: 4.4 s → see bench).  Clustering groups by the
    full sorted token-hash array — NOT a hash of it — so the collapse
    is exact by construction, never probabilistic, and the result is
    bit-identical to the uncollapsed plan (pinned by the property tests
    and the unchanged DuckDB oracle, which still enumerates the
    uncollapsed construction)."""
    members = _clusters(_set_keyed(df, id_col, tokens_col))
    rep_ids = members.filter(F.col("__id") == F.col("__rep")).select("__rep")
    rep_df = df.join(rep_ids, F.col(id_col) == F.col("__rep")).drop("__rep")
    bands, tokh = minhash_bands_tokens(rep_df, id_col, tokens_col)
    cand = _packed_distinct(_bucket_pairs(bands))
    rep_pairs = _verify_jaccard(cand, tokh, threshold)
    return _expand_reps(rep_pairs, members, members, threshold)


def _expand_reps(
    rep_pairs: DataFrame, members: DataFrame, within_of: DataFrame, threshold: float
) -> DataFrame:
    """Verified representative pairs expanded to member pairs: each rep
    pair becomes every member cross pair with the same Jaccard
    (output-bound joins on 8-byte ids through the (__id, __rep)
    ``members``; clusters are disjoint, so no duplicates), plus the
    within-cluster pairs of ``within_of`` analytically at J=1.0, via the
    same one-pass bucket expansion as the band join (r13) -- members
    bucketed by their rep instead of a two-legged self-join."""
    ma = members.select(F.col("__rep").alias("id_a"), F.col("__id").alias("__a"))
    mb = members.select(F.col("__rep").alias("id_b"), F.col("__id").alias("__b"))
    cross = (
        rep_pairs.join(ma, "id_a")
        .join(mb, "id_b")
        .select(
            F.least("__a", "__b").alias("id_a"),
            F.greatest("__a", "__b").alias("id_b"),
            "jaccard",
        )
    )
    within = _bucket_pairs(
        within_of.select("__id", F.col("__rep").alias("bk"))
    ).select("id_a", "id_b", F.lit(1.0).alias("jaccard")).filter(
        F.lit(1.0) >= F.lit(threshold)
    )
    return cross.unionByName(within)


# ---------------------------------------------------------------------------
# Incremental dedup: persisted MinHash band index + new-batch serving path
# (VERDICT r7 item 4).  A production pipeline does not re-scan 100 TB per
# ingest — it dedups each NEW batch against a persisted signature index
# (the sim_index_build pattern, similarity.py): band keys partition the
# index on disk, a batch probes only its own buckets (static partition
# pruning), and the index grows by parquet APPEND — never a rewrite.
#
# Index schema v2 (round 8): the exact-set collapse is PERSISTED.  Three
# relations:
#   bands/   (bk, doc_id, pb)        — doc_id is a cluster REPRESENTATIVE;
#                                      one band row per band per DISTINCT
#                                      token set, partitioned by pb.
#   tokens/  (doc_id, tk32, rep_id)  — every banded member doc with its
#                                      verify-stage token hashes and its
#                                      cluster representative.
#   sets/    (skey, rep_id)          — one row per distinct token set;
#                                      skey is the FULL sorted token-hash
#                                      array (exact, never a hash of it),
#                                      consulted at append time so a new
#                                      doc identical to an indexed set
#                                      joins that cluster instead of
#                                      spawning a duplicate representative.
# A 248-member boilerplate cluster therefore costs 4 band rows and one
# verify per colliding probe — not 248 of each — and the lookup expands
# representative pairs to member pairs through `tokens/` (output-bound
# joins on 8-byte ids).  Lossless by the same theorem as the in-memory
# collapse: identical sets share signature and band keys.
#
# Serving a batch: the lookup and the append both start from ONE persisted
# batch frame (_batch_frame), so the batch is scanned, tokenized and run
# through the signature kernel once.  The lookup finds batch×index and
# batch×batch candidates in one join, verifies and expands them once; the
# append joins the frame to `sets/` once and writes all three relations
# from that join.  The lookup's frame is released by its caller's scope
# (io.scope); an append of the same batch builds the same plan, so inside
# one scope it reads the lookup's cached copy, and on its own it releases
# that copy with its own frame.
# ---------------------------------------------------------------------------

MINHASH_IDX_BUCKETS = 32  # on-disk partitions of the band table (pb = bk mod B)
INCR_MOD, INCR_REM = 10, 7  # registered split: batch = doc_id % 10 == 7

_IDX_BANDS_SCHEMA = "bk long, doc_id long, pb int"
_IDX_TOKENS_SCHEMA = "doc_id long, tk32 array<int>, rep_id long"
_IDX_SETS_SCHEMA = "skey array<bigint>, rep_id long"
_IDX_TOMB_SCHEMA = "doc_id long"
_IDX_STORE = gio.IndexStore(
    schemas={
        "bands": _IDX_BANDS_SCHEMA,
        "tokens": _IDX_TOKENS_SCHEMA,
        "sets": _IDX_SETS_SCHEMA,
    },
    partitions={"bands": "pb"},
    tombstone=_IDX_TOMB_SCHEMA,
)


def _band_frame(bands: DataFrame) -> DataFrame:
    return bands.select(
        F.col("bk"),
        F.col("__id").alias("doc_id"),
        F.pmod(F.col("bk"), F.lit(MINHASH_IDX_BUCKETS)).cast("int").alias("pb"),
    )


def _batch_frame(df: DataFrame, id_col: str, tokens_col: str) -> DataFrame:
    """``(__id, __set, __rep, bks, __tk32)`` per non-blank batch doc: set
    key (as _set_keyed), batch representative (min id per set), band keys
    and verify tokens.  The kernel runs on every doc BEFORE the
    representative exchange, so its Python evaluation stays in the
    batch-scan stage (one worker per scan task, not one per shuffle
    partition); members of one set repeat it, a batch-bounded cost."""
    keyed = _with_band_keys(_hashed_tokens(df, id_col, tokens_col))
    return keyed.select(
        "__id",
        F.array_sort(F.array_distinct("__tkh")).alias("__set"),
        "bks",
        _tk32().alias("__tk32"),
    ).withColumn("__rep", F.min("__id").over(Window.partitionBy("__set")))


def _member_tokens(df, id_col, tokens_col, members) -> DataFrame:
    """tokens/ rows for the given membership: (doc_id, tk32, rep_id).
    Only banded (non-blank) members — blank docs never verify, and
    storing them would recreate the blank hot bucket ON DISK."""
    _, tokh = minhash_bands_tokens(df, id_col, tokens_col)
    return (
        tokh.join(members, "__id")
        .filter(F.size("__tk32") > 0)
        .select(
            F.col("__id").alias("doc_id"),
            F.col("__tk32").alias("tk32"),
            F.col("__rep").alias("rep_id"),
        )
    )


def minhash_index_build(df: DataFrame, id_col: str, tokens_col: str, path: str) -> None:
    """Persist the MinHash signature index for a corpus at ``path`` (see
    the schema-v2 comment above).  Uses the SAME banding front half as
    the one-shot search (minhash_bands_tokens), so index lookups
    reproduce minhash_lsh_pairs bit-for-bit."""
    keyed = _set_keyed(df, id_col, tokens_col)
    with gio.scope():
        # sets feeds the sets/ write AND the membership join; members feeds
        # the rep filter AND the tokens/ write — persist both so the
        # array-keyed aggregation runs once per build (the _clusters lesson).
        sets = gio.persist(keyed.groupBy("__set").agg(F.min("__id").alias("__rep")))
        members = gio.persist(keyed.join(sets, "__set").select("__id", "__rep"))
        rep_ids = members.filter(F.col("__id") == F.col("__rep")).select("__rep")
        bands, _ = minhash_bands_tokens(
            df.join(rep_ids, F.col(id_col) == F.col("__rep")).drop("__rep"), id_col, tokens_col
        )
        # Cluster by pb BEFORE the partitioned write (one shuffle of a thin
        # (bk, doc_id, pb) frame): a map-side partitionBy write emits one file
        # per (task × pb value) — ~700 KB-size files at 22 upstream tasks × 32
        # buckets — and every later lookup/append/compact pays the per-file
        # open cost (guide §6 small-files; measured: the corpus-bands scan ran
        # 538 tasks before, ≤32 row-group-sized files after).  Same layout the
        # compactor produces, so a fresh build now starts compact.
        # The three relation writes are independent jobs — submit them from
        # driver threads so each job's scheduling/commit tail back-fills the
        # others' idle cores (guide §2.6; sets/members are persisted, so the
        # shared aggregation still runs once, guarded by the block manager).
        gio.run_jobs(
            lambda: (
                _band_frame(bands)
                .repartition("pb")
                .write.partitionBy("pb")
                .option("maxRecordsPerFile", 5_000_000)
                .parquet(os.path.join(path, "bands"))
            ),
            lambda: _member_tokens(df, id_col, tokens_col, members)
            .write.parquet(os.path.join(path, "tokens")),
            lambda: sets.select(
                F.col("__set").alias("skey"), F.col("__rep").alias("rep_id")
            ).write.parquet(os.path.join(path, "sets")),
        )
        _IDX_STORE.commit(path)


def minhash_index_append(
    df_new: DataFrame,
    id_col: str,
    tokens_col: str,
    path: str,
    *,
    meta: "dict | None" = None,
) -> None:
    """Fold a processed batch INTO the index: parquet append of the
    batch's rows, then ONE atomic manifest publish covering all three
    relations.  Appends only add files — no committed file is rewritten
    or deleted — and a reader resolves the previous manifest until the
    publish lands, so it sees the whole batch or none of it (never a
    torn bands-without-tokens state).  A crash before the publish leaves
    the new files orphaned-but-invisible; the retry's commit lists only
    its own files (io.manifest_append), so there is no double-append
    window.  ``meta`` (e.g. ``{"epoch": id}``) rides the commit for
    retried-writer idempotence checks.

    Cluster maintenance: the batch frame (_batch_frame) is joined to
    ``sets/`` once on the set key.  A doc identical to an INDEXED set
    becomes a member of that cluster (one tokens/ row, no new bands);
    the other docs keep their batch representative — the min id of a
    set the index has never seen, since a set matches ``sets/`` whole or
    not at all — and each such representative appends its bands/ and
    sets/ rows from the frame's band keys.  No second kernel pass, no
    re-scan of the batch.  Caller contract: the batch's ids are not
    already in the index (dedup first, then append the keepers).

    Frame lifetime: the batch frame is persisted in this call's scope
    (io.scope), released when the call returns or fails, or by the
    caller's scope when one is open.  After a minhash_index_dedup over
    the same batch the frame plan is the lookup's, so Spark serves it
    from the lookup's cached copy, and the release frees that copy too."""
    spark = df_new.sparkSession
    with gio.scope():
        batch = gio.persist(_batch_frame(df_new, id_col, tokens_col))
        idx_sets = _IDX_STORE.read(spark, path, "sets")
        m = batch.join(idx_sets, batch["__set"] == idx_sets["skey"], "left")
        fresh_reps = m.filter(
            F.col("rep_id").isNull() & (F.col("__id") == F.col("__rep"))
        )
        with gio.manifest_append(path, list(_IDX_STORE.schemas), meta=meta):
            # tokens/ first and alone: it reads every frame row, so a cold
            # call materializes the batch frame here once instead of in
            # each of the concurrent writes below.
            m.select(
                F.col("__id").alias("doc_id"),
                F.col("__tk32").alias("tk32"),
                F.coalesce("rep_id", "__rep").alias("rep_id"),
            ).write.mode("append").parquet(os.path.join(path, "tokens"))
            # Concurrent independent writes (guide §2.6): the manifest diff
            # runs after ALL of them complete, and a failure in any aborts
            # the commit (run_jobs re-raises), so atomicity is unchanged.
            # One writer task for the batch-bounded bands rows lands one
            # file per pb partition the append touches — the build's
            # pb-clustered layout — without a shuffle.
            gio.run_jobs(
                lambda: _band_frame(
                    fresh_reps.select("__id", F.explode("bks").alias("bk"))
                )
                .coalesce(1)
                .write.partitionBy("pb")
                .mode("append")
                .parquet(os.path.join(path, "bands")),
                lambda: fresh_reps.select(
                    F.col("__set").alias("skey"), F.col("__rep").alias("rep_id")
                )
                .write.mode("append")
                .parquet(os.path.join(path, "sets")),
            )


def minhash_index_delete(ids: DataFrame, path: str) -> None:
    """Delete docs from the index by TOMBSTONE — the GDPR-shape
    counterpart of maintenance_delete_rows (etl.py) for the dedup index:
    a right-to-be-forgotten request must take effect immediately but
    must NOT force a rewrite of a 100 TB index.  The delete appends one
    tiny parquet file of doc_ids to ``tombstones/`` (new files only —
    same reader-safety contract as minhash_index_append); every lookup
    anti-joins the member store against it (and re-elects cluster
    representatives where needed, see minhash_index_dedup), so
    delete-then-lookup is bit-identical to rebuild-without-the-deleted
    (pinned in tests/test_minhash_property.py).  The next compaction
    (minhash_index_compact) physically drops tombstoned rows and clears
    the tombstone relation.  Contract: doc ids are never reused — a
    tombstone is forever until compaction.  ``ids`` carries a
    ``doc_id`` column."""
    _IDX_STORE.delete(ids.select("doc_id"), path)


def minhash_index_dedup(
    spark: SparkSession,
    df_new: DataFrame,
    id_col: str,
    tokens_col: str,
    path: str,
    *,
    exclude_ids: "DataFrame | None" = None,
) -> DataFrame:
    """Near-dup pairs of a NEW batch against the persisted index plus
    within the batch itself — the incremental serving path.  Returns
    (id_a, id_b, jaccard >= JACCARD_T), bit-identical to running
    minhash_lsh_pairs over (index corpus ∪ batch) and keeping the pairs
    that involve >= 1 batch doc (pinned by the append-twice property
    test): banding is deterministic and shared, so the candidate set
    decomposes exactly into batch×index ∪ batch×batch.

    Plan shape: ONE persisted batch frame (_batch_frame) feeds three
    views — members, rep bands, rep tokens.  Candidates come from ONE
    join of the batch reps' bands against (pruned index bands ∪ batch
    reps' bands), ordered with least/greatest into one packed distinct;
    one _verify_jaccard runs against (batch ∪ index) rep tokens, and one
    output-bound expansion goes through (batch ∪ index) members.  Both
    sides are COLLAPSED to cluster representatives, so the join carries
    one row per distinct set per band.  The probed pb set is collected
    driver-side from the cached frame (bounded by MINHASH_IDX_BUCKETS, a
    few ints) and lands in the bands scan as a static partition filter.
    Nothing rescans the corpus text.

    Frame lifetime: the returned pairs read the cached batch frame, so
    the lookup opens no scope; the caller's scope (io.scope) releases the
    frame after the pairs are consumed.  With no scope open it stays
    cached — one batch-sized frame — until a minhash_index_append of the
    same batch, which builds the same plan, reads it from the cache and
    releases it.

    ``exclude_ids`` (r13, VERDICT r12 item 7 — the streaming retry
    window): a one-column frame of doc ids to treat as ABSENT from the
    index side.  A foreachBatch retry whose append already COMMITTED
    must reproduce the pairs the first attempt would have written, so
    the retry passes its own batch ids here — the member store is
    anti-joined (which also empties those clusters' verify rows and
    expansions), restoring exactly the pre-append lookup state (appends
    only ever add the batch's own rows).  None (the default) leaves the
    common-path plan untouched."""
    # BATCH-sized and fanned into every join below: persisted, which
    # inverts the corpus-side no-persist rule (minhash_bands_tokens) —
    # the exact asymmetry of the serving path.
    batch = gio.persist(_batch_frame(df_new, id_col, tokens_col))
    reps = batch.filter(F.col("__id") == F.col("__rep"))
    rep_bands = reps.select("__id", F.explode("bks").alias("bk"))
    probed = [
        int(r["pb"])
        for r in rep_bands.select(
            F.pmod(F.col("bk"), F.lit(MINHASH_IDX_BUCKETS)).cast("int").alias("pb")
        )
        .coalesce(1)  # batch-sized: dedup in one task, no shuffle
        .distinct()
        .collect()  # bounded: <= MINHASH_IDX_BUCKETS values
    ]
    # The three stores the candidates meet: bands to join, rep tokens to
    # verify, members to expand — batch rows, plus index rows below.
    other_bands = rep_bands
    rep_tok = reps.select("__id", "__tk32")
    members = batch.select("__rep", "__id")
    if probed:
        idx_tok = _IDX_STORE.read(spark, path, "tokens")
        if exclude_ids is not None:
            # Retry-after-committed-append (see docstring): drop the batch's
            # own rows from the member store.  Bands rows of excluded reps
            # still generate candidates, but those reps are batch reps (an
            # append's fresh reps are its batch reps), so the pairs are ones
            # the batch bands find anyway, verified and expanded through the
            # batch rows only: the output is exactly the pre-append lookup's.
            idx_tok = idx_tok.join(
                exclude_ids.select(F.col(exclude_ids.columns[0]).alias("doc_id")),
                "doc_id",
                "left_anti",
            )
        # Tombstone-aware lookup (GDPR-shape deletes, VERDICT r8 item 4): a
        # deleted doc must vanish from every output pair WITHOUT an index
        # rewrite.  ``tombstones/`` (written by minhash_index_delete) is
        # anti-joined against the member store, so deleted members never
        # expand into pairs; when a cluster REPRESENTATIVE is deleted the
        # verify side re-elects min live member per cluster — sound because
        # a v2 cluster IS a distinct token set, so every member's tk32 is
        # identical to the rep's by construction.  Bands rows key clusters
        # by the ORIGINAL rep id; that id stays valid as a cluster label
        # (band keys derive from the token set, not the id), and
        # fully-deleted clusters drop out in the verify inner join.
        # Compaction (minhash_index_compact) physically drops tombstoned
        # rows and re-labels clusters by their live minimum.
        tomb = _IDX_STORE.tombstones(spark, path)
        if tomb is not None:
            idx_tok = idx_tok.join(tomb, "doc_id", "left_anti")
        other_bands = other_bands.unionByName(
            _IDX_STORE.read(spark, path, "bands")
            .filter(F.col("pb").isin(probed))  # static partition pruning
            .select(F.col("doc_id").alias("__id"), "bk")
        )
        idx_rep_tok = idx_tok.filter(F.col("doc_id") == F.col("rep_id")).select(
            F.col("doc_id").alias("__id"), F.col("tk32").alias("__tk32")
        )
        if tomb is not None:
            # Representative re-election under deletes — TOMBSTONE-bounded,
            # never corpus-bounded: a deleted rep's row is already gone
            # from the anti-joined member store, so the surviving rep rows
            # serve verbatim (the map-side filter above), and only
            # clusters whose rep_id IS tombstoned re-elect min live member
            # (semi-join against the small tombstone set, then a groupBy
            # over just those clusters' members).  min_by is deterministic;
            # the tk32 arrays are identical within a cluster anyway
            # (exact-set collapse), and the two branches are disjoint by
            # construction (a tombstoned rep has no surviving rep row).
            reelected = (
                idx_tok.join(
                    tomb.select(F.col("doc_id").alias("rep_id")), "rep_id", "semi"
                )
                .groupBy("rep_id")
                .agg(F.min_by("tk32", "doc_id").alias("tk32"))
                .select(
                    F.col("rep_id").alias("__id"), F.col("tk32").alias("__tk32")
                )
            )
            idx_rep_tok = idx_rep_tok.unionByName(reelected)
        rep_tok = rep_tok.unionByName(idx_rep_tok)
        members = members.unionByName(
            idx_tok.select(F.col("rep_id").alias("__rep"), F.col("doc_id").alias("__id"))
        )

    # Candidate rep pairs, unordered, in one join: every pair has a batch
    # rep on the left, an index or batch rep on the right.  The inequality
    # drops each batch rep's match with itself, and — defensively — a
    # batch id already present in the index (contract violation).
    nb, ob = rep_bands.alias("nb"), other_bands.alias("ob")
    cand = _packed_distinct(
        nb.join(ob, F.col("nb.bk") == F.col("ob.bk"))
        .filter(F.col("nb.__id") != F.col("ob.__id"))
        .select(
            F.least("nb.__id", "ob.__id").alias("id_a"),
            F.greatest("nb.__id", "ob.__id").alias("id_b"),
        )
    )
    rep_pairs = _verify_jaccard(cand, rep_tok, JACCARD_T)
    # Index×index pairs are never output: only the batch's clusters
    # expand within themselves.
    return _expand_reps(rep_pairs, members, batch, JACCARD_T)


def _incr_batch_pred():
    return F.col("doc_id") % INCR_MOD == INCR_REM


def _incr_index_path(spark: SparkSession, sf_dir: str, *, force: bool = False) -> str:
    """Valid persisted corpus index for the registered incremental ops,
    built once per (documents fingerprint, split, schema version) into an
    immutable generation dir (io.ensure_generation) and reused across
    invocations — amortizing the build is the point of the index.  ``force=True``: a build is a fresh build (new generation,
    CURRENT swings, concurrent readers of the old one are untouched)."""
    from sqlite_to_clickhouse_spark.io import ensure_generation

    fp = gio.file_fingerprint(os.path.join(sf_dir, "documents.parquet"))
    # "|md5": the hash family; a cached generation built with it keeps its
    # fingerprint and is reused.
    # "|m1": manifest-committed layout (r10) — a cached pre-manifest
    # generation fingerprints differently and is rebuilt, never half-read.
    # "|c1": pb-clustered bands layout (r12) — a cached generation built
    # with the old map-side partitionBy write (tasks × 32 tiny files)
    # rebuilds once into the compact layout every later scan assumes.
    fp = f"{fp}|md5|mod{INCR_MOD}r{INCR_REM}|v2|m1|c1"

    def _build(gen: str) -> None:
        corpus = table(spark, sf_dir, "documents").filter(~_incr_batch_pred())
        minhash_index_build(_doc_tokens(corpus), "doc_id", "tk", gen)

    return ensure_generation("minhash_idx", sf_dir, fp, _build, force=force)


def _relation_counts(spark: SparkSession, path: str) -> DataFrame:
    """One row of the index's three relation sizes, counted by independent
    jobs run concurrently (io.run_jobs)."""
    counts = gio.run_jobs(
        *[
            (lambda r: lambda: _IDX_STORE.read(spark, path, r).count())(rel)
            for rel in _IDX_STORE.schemas
        ]
    )
    return spark.createDataFrame(
        [tuple(counts)], "band_rows bigint, token_rows bigint, set_rows bigint"
    )


def _index_counts_oracle(*preds: str) -> str:
    """DuckDB recount of a MinHash index's three relation sizes from the
    raw documents passing ``preds``: every DISTINCT non-blank token set
    holds N_BANDS band rows and one sets/ row, every non-blank doc one
    tokens/ row."""
    where = "".join(f"{p}\n        AND " for p in preds)
    return f"""
    WITH sets AS (
      SELECT list_sort(list_distinct(list_transform(
               list_filter(string_split(text, ' '), t -> t <> ''),
               t -> CAST(('0x' || substring(md5(t), 1, 15)) AS BIGINT)))) AS s
      FROM documents
      WHERE {where}len(list_filter(string_split(text, ' '), t -> t <> '')) > 0
    )
    SELECT CAST({N_BANDS} * COUNT(DISTINCT s) AS BIGINT) AS band_rows,
           CAST(COUNT(*) AS BIGINT) AS token_rows,
           CAST(COUNT(DISTINCT s) AS BIGINT) AS set_rows
    FROM sets
    """


@register(
    "dedup_index_build",
    oracle=_index_counts_oracle(f"doc_id % {INCR_MOD} <> {INCR_REM}"),
    tags=("llm", "dedup", "incremental"),
)
def dedup_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build + persist the corpus MinHash band index (force-fresh
    generation) and report the on-disk relation sizes.  Differentially
    oracled against a DuckDB recompute from the raw documents table:
    every DISTINCT non-blank token set contributes exactly N_BANDS band
    rows and one sets/ row (the persisted exact-set collapse), every
    non-blank doc one tokens/ row, and blank/NULL docs contribute
    nothing — so a banding/clustering/filter drift on the WRITTEN files
    (not just in-memory) breaks the gate."""
    path = _incr_index_path(spark, sf_dir, force=True)
    return _relation_counts(spark, path)


# Ground truth of a batch lookup: the full-corpus pairs touching the batch.
_INCR_ORACLE = _minhash_oracle(
    pair_pred=f"doc_a % {INCR_MOD} = {INCR_REM} OR doc_b % {INCR_MOD} = {INCR_REM}"
)


@register(
    "dedup_incremental",
    oracle=_INCR_ORACLE,
    tags=("llm", "dedup", "incremental"),
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup a NEW batch (doc_id % 10 == 7) against the persisted corpus
    index — the 100 TB serving path: the corpus text is never rescanned,
    the batch probes only its band-key partitions, and the result is
    bit-identical to the full-corpus LSH restricted to pairs involving a
    batch doc (the oracle recomputes exactly that ground truth from the
    raw documents table in DuckDB, so the whole persisted path — write,
    pruned read, bucket join, verify, cluster expansion — is
    differentially gated)."""
    path = _incr_index_path(spark, sf_dir)
    batch = table(spark, sf_dir, "documents").filter(_incr_batch_pred())
    return minhash_index_dedup(spark, _doc_tokens(batch), "doc_id", "tk", path).select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        "jaccard",
    )


def minhash_index_compact(spark: SparkSession, path: str, dst: str) -> None:
    """Rewrite an append-grown index into a compacted copy at ``dst``:
    every ingest batch appends one small file per touched pb partition,
    so after thousands of batches each partition is thousands of KB-size
    files — the small-file problem that destroys lookup throughput via
    per-file open/footer cost.  The compaction re-clusters bands by pb
    (one shuffle) and rewrites with a row-group-sized file target; per
    partition it is embarrassingly parallel, and in production it runs
    against a NEW generation dir (the io.ensure_generation pattern) so
    in-flight lookups on the old layout are never disturbed.

    Compaction is also where TOMBSTONES (minhash_index_delete) are
    physically applied: deleted members drop from tokens/, clusters with
    no live member drop entirely, and surviving clusters are RE-LABELED
    by their minimum live doc_id across bands/tokens/sets — band keys
    derive from the token set, never the label, so relabeling is free —
    after which the compacted index carries no tombstone relation at all
    and is bit-identical to an index built on the corpus minus the
    deleted docs (pinned in tests/test_minhash_property.py)."""
    bands, tokens, sets = (
        _IDX_STORE.read(spark, path, rel) for rel in _IDX_STORE.schemas
    )
    tomb = _IDX_STORE.tombstones(spark, path)
    if tomb is not None:
        tokens = tokens.join(tomb, "doc_id", "left_anti")
        # old cluster label -> min live member (re-election); inner joins
        # below drop fully-deleted clusters from every relation.
        remap = tokens.groupBy("rep_id").agg(F.min("doc_id").alias("__new"))
        tokens = tokens.join(remap, "rep_id").select(
            "doc_id", "tk32", F.col("__new").alias("rep_id")
        )
        bands = bands.join(
            remap, bands["doc_id"] == remap["rep_id"]
        ).select("bk", F.col("__new").alias("doc_id"), "pb")
        sets = sets.join(remap, "rep_id").select(
            "skey", F.col("__new").alias("rep_id")
        )
    _IDX_STORE.rewrite(
        dst, {"bands": bands, "tokens": tokens, "sets": sets}, applied_from=path
    )


@register(
    "dedup_index_compact",
    oracle=_index_counts_oracle(),
    tags=("llm", "dedup", "incremental", "maintenance"),
)
def dedup_index_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compact an append-grown MinHash index and prove the rewrite is
    content-preserving — the invariant a compaction job must never
    silently break.  The op simulates the ingest lifecycle end-to-end:
    build the corpus index, APPEND the new-doc batch (the append lands
    one more small file per touched pb partition — the growth compaction
    exists to absorb), compact into a fresh directory, and report the
    COMPACTED copy's relation counts.  (r13: the batch lands as ONE
    append instead of two halves — appends maintain cluster identity via
    the sets/ join, so the grown relations and every oracle count are
    identical either way, for one fewer full append pass; the
    append-twice-equals-once equivalence itself stays pinned in
    tests/test_minhash_property.py.)  The DuckDB oracle recomputes all
    three counts from the raw documents table over ALL docs (corpus +
    appended batch) — including the DISTINCT-set counts, which also gate
    the append path's cluster maintenance (a batch doc identical to an
    indexed set must join that cluster, never spawn a duplicate
    representative); file-count collapse and lookup-equality are pinned
    in tests/test_minhash_property.py."""
    docs = table(spark, sf_dir, "documents")
    toks = _doc_tokens(docs)
    # Clone the shared corpus generation (appends below mutate it); a
    # file clone is the production snapshot, not a re-band of the corpus.
    grown = gio.clone_store(_incr_index_path(spark, sf_dir), "graft_idx_compact_")
    compacted = os.path.join(os.path.dirname(grown), "compacted")
    minhash_index_append(toks.filter(_incr_batch_pred()), "doc_id", "tk", grown)
    minhash_index_compact(spark, grown, compacted)
    return _relation_counts(spark, compacted)


DEL_MOD, DEL_REM = 30, 3  # registered delete set: corpus docs, doc_id % 30 == 3
# (30·k + 3) % 10 ∈ {3} ≠ 7, so the deleted set never intersects the
# ingest batch (doc_id % 10 == 7) — deletes target only INDEXED docs.


def _deleted_ids(docs: DataFrame) -> DataFrame:
    return docs.filter(
        ~_incr_batch_pred() & (F.col("doc_id") % DEL_MOD == DEL_REM)
    ).select("doc_id")


@register(
    "dedup_incremental_deletes",
    oracle=_minhash_oracle(
        pair_pred=(
            f"(doc_a % {INCR_MOD} = {INCR_REM} OR doc_b % {INCR_MOD} = {INCR_REM}) "
            f"AND doc_a % {DEL_MOD} <> {DEL_REM} AND doc_b % {DEL_MOD} <> {DEL_REM}"
        )
    ),
    tags=("llm", "dedup", "incremental", "maintenance"),
)
def dedup_incremental_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup lookup against an index with TOMBSTONED deletes
    (VERDICT r8 item 4) — the GDPR loop: a delete request lands
    (minhash_index_delete: one tiny tombstone file, no index rewrite),
    and every subsequent lookup must behave as if the deleted docs were
    never indexed.  The op tombstones the corpus docs with
    doc_id % 30 == 3 — at typical fixture cardinalities most docs are
    their own cluster representative, so the delete set hits REP rows and
    the gate exercises representative re-election, not just the member
    anti-join — then runs the standard batch lookup.  The DuckDB oracle
    recomputes ground truth from the raw documents table restricted to
    pairs with no deleted endpoint: delete-then-lookup must be
    bit-identical to rebuild-without-the-deleted."""
    idx = gio.clone_store(_incr_index_path(spark, sf_dir), "graft_idx_del_")
    docs = table(spark, sf_dir, "documents")
    minhash_index_delete(_deleted_ids(docs), idx)
    batch = docs.filter(_incr_batch_pred())
    return minhash_index_dedup(spark, _doc_tokens(batch), "doc_id", "tk", idx).select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        "jaccard",
    )


@register(
    "dedup_index_delete_compact",
    oracle=_index_counts_oracle(
        f"doc_id % {INCR_MOD} <> {INCR_REM}", f"doc_id % {DEL_MOD} <> {DEL_REM}"
    ),
    tags=("llm", "dedup", "incremental", "maintenance"),
)
def dedup_index_delete_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Physically apply tombstones via compaction and prove the rewrite
    equals an index built on corpus-minus-deleted: tombstone the
    doc_id % 30 == 3 corpus docs, compact into a fresh directory
    (deleted members dropped, fully-deleted clusters dropped, surviving
    clusters re-labeled by min live member, tombstone relation cleared),
    and report the COMPACTED relation counts.  The DuckDB oracle
    recomputes all three from the raw documents table with the deleted
    docs excluded — a leak of any tombstoned row (or loss of any live
    one) breaks the gate.  Tombstone-clearing and bit-level equivalence
    to rebuild-without are pinned in tests/test_minhash_property.py."""
    idx = gio.clone_store(_incr_index_path(spark, sf_dir), "graft_idx_del_")
    docs = table(spark, sf_dir, "documents")
    minhash_index_delete(_deleted_ids(docs), idx)
    compacted = os.path.join(gio.tempdir("graft_idx_delc_"), "idx")
    minhash_index_compact(spark, idx, compacted)
    return _relation_counts(spark, compacted)


def _simhash_fp(tkh, n_bits: int):
    """The one SimHash kernel: an Arrow-batched fingerprint over a column
    of base-hash arrays (_base_hash per token), bit b = the sign of the
    sum over tokens of ±1 by that token's hash bit b.  One md5 per token
    JVM-side and all n_bits votes in one numpy pass -- a per-bit JVM
    expression tree re-hashes every token once per bit, interpreted.
    Bit b depends only on bit b of each hash, so the SIMHASH_BITS
    fingerprint is the low bits of the SIMHASH_NN_BITS one.  A NULL
    array maps to 0, as the oracle's NULL votes do."""
    from pyspark.sql import types as T

    bits = np.arange(n_bits, dtype=np.int64)

    @F.pandas_udf(T.LongType())
    def _fp(col: pd.Series) -> pd.Series:
        out = []
        for arr in col:
            if arr is None:
                out.append(0)
                continue
            h = np.asarray(arr, dtype=np.int64)
            b = (h[:, None] >> bits[None, :]) & 1
            votes = (2 * b - 1).sum(axis=0)
            out.append(int(((votes > 0).astype(np.int64) << bits).sum()))
        return pd.Series(out)

    return _fp(tkh)


def _simhash_votes_sql(n_bits: int, arr: str, var: str, h: str) -> str:
    """DuckDB spelling of _simhash_fp over the list ``arr``, whose element
    ``var`` has base hash ``h``."""
    return " + ".join(
        f"(CASE WHEN list_aggregate(list_transform({arr}, {var} -> "
        f"CASE WHEN ({h} & {1 << b}) <> 0 THEN 1 ELSE -1 END), 'sum') > 0 "
        f"THEN {1 << b} ELSE 0 END)"
        for b in range(n_bits)
    )


def _simhash_oracle() -> str:
    votes = _simhash_votes_sql(
        SIMHASH_BITS, "tk", "t", "CAST(('0x' || substring(md5(t), 1, 15)) AS BIGINT)"
    )
    return f"""
    WITH toks AS (
      SELECT doc_id,
             list_distinct(list_filter(string_split(text, ' '), t -> t <> '')) AS tk
      FROM documents
    )
    SELECT doc_id, CAST({votes} AS BIGINT) AS simhash FROM toks
    """


@register("dedup_simhash", oracle=_simhash_oracle(), tags=("llm", "dedup"))
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprint per document (24-bit, md5-derived, engine-
    portable). Near-dup docs land at small Hamming distance; downstream
    grouping by fingerprint (or by fingerprint bands) finds clusters with
    one shuffle. Fingerprint computation itself is shuffle-free: the
    _simhash_fp kernel over each doc's token base hashes."""
    toks = _doc_tokens(table(spark, sf_dir, "documents"))
    tkh = F.transform("tk", _base_hash)
    return toks.select("doc_id", _simhash_fp(tkh, SIMHASH_BITS).alias("simhash"))


HAMMING_T = 3  # max differing simhash bits for a near-dup neighbor
SIMHASH_BANDS = 4  # must exceed HAMMING_T for lossless banding (pigeonhole)
SIMHASH_NN_BITS = 48  # wide fingerprint for the NN op (bits 0..47 of the 60-bit hash)


def _simhash_nn_oracle() -> str:
    votes = _simhash_votes_sql(SIMHASH_NN_BITS, "hh", "h", "h")
    return f"""
    WITH toks AS (
      SELECT doc_id,
             list_distinct(list_filter(string_split(text, ' '), t -> t <> '')) AS tk
      FROM documents
    ),
    hs AS (
      SELECT doc_id,
             list_transform(tk, t ->
               CAST(('0x' || substring(md5(t), 1, 15)) AS BIGINT)) AS hh
      FROM toks WHERE len(tk) > 0
    ),
    fps AS (
      SELECT doc_id, CAST({votes} AS BIGINT) AS fp FROM hs
    ),
    pairs AS (
      SELECT a.doc_id AS doc_id, b.doc_id AS nn_doc,
             CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS hamming
      FROM fps a JOIN fps b ON a.doc_id <> b.doc_id
      WHERE bit_count(xor(a.fp, b.fp)) <= {HAMMING_T}
    )
    SELECT doc_id, nn_doc, hamming FROM (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY hamming, nn_doc) AS rn
      FROM pairs
    ) WHERE rn = 1
    """


@register("dedup_simhash_nn", oracle=_simhash_nn_oracle(), tags=("llm", "dedup"))
def dedup_simhash_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest near-duplicate per document by SimHash Hamming distance —
    the second classic fuzzy-dedup geometry next to MinHash-Jaccard:
    one integer fingerprint per doc, near-dups differ in a few bits.
    Emits at most ONE row per doc, ``(doc_id, nn_doc, hamming)`` — its
    closest neighbor within HAMMING_T (ties: lowest hamming, then lowest
    nn_doc). The per-doc-NN output shape is deliberate: on a templated
    corpus the full pair LIST is inherently quadratic in cluster size
    (measured on the fixture: 24-bit simhash put 29% of ALL 12.5 M
    sf0.1 pairs within distance 3 — output-unbounded), while the NN
    relation is ≤ n rows at any scale and is what a keep-best/cluster
    stage actually consumes.

    The banding is LOSSLESS, not probabilistic: the 48-bit fingerprint
    splits into SIMHASH_BANDS=4 contiguous 12-bit bands, and a pair
    within Hamming distance 3 has its differing bits in at most 3 bands
    — so at least one band matches EXACTLY (pigeonhole, HAMMING_T <
    SIMHASH_BANDS). The oracle can therefore state the all-pairs ground
    truth and the banded plan must reproduce it bit-for-bit; recall is a
    theorem, precision comes from the exact popcount on every candidate.

    Plan: the 48-bit _simhash_fp kernel (one md5 per token, all votes
    in one Arrow pass). Identical fingerprints are collapsed BEFORE banding:
    a fingerprint cluster of size ≥ 2 answers its members' NN
    analytically (hamming 0, lowest other member — any cross-cluster
    distance is ≥ 1), and only one representative per DISTINCT
    fingerprint enters the band join. This is what makes the op safe on
    a templated corpus: the fixture's exact-fp clusters alone produce
    ~10 M in-bucket candidate rows at sf0.1 when banded naively
    (measured), versus ~10⁴ distinct-fp candidates after the collapse —
    an exact-duplicate cluster of ANY size c costs O(c) here, never c².
    Candidates shuffle on (band_id, band_value) only; exact popcount +
    a per-fingerprint min finish it. Token-less docs are dropped before
    fingerprinting (their all-zero fingerprints would otherwise form one
    giant cluster — the LSH blank-doc lesson, here handled by the same
    collapse that makes them cheap anyway).
    """
    toks = _doc_tokens(table(spark, sf_dir, "documents"))
    fps = toks.where(F.size("tk") > 0).select(
        "doc_id",
        _simhash_fp(F.transform("tk", _base_hash), SIMHASH_NN_BITS).alias("fp"),
    )

    # Collapse identical fingerprints: per-fp cluster size, lowest and
    # second-lowest member (one shuffle on fp, reused by every window).
    wfull = (
        Window.partitionBy("fp")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    # PERSISTED (r13): four consumers re-evaluated this frame — and with
    # it the ArrowEvalPython fingerprint kernel over the full corpus —
    # once each (both band-join sides via reps, the intra branch, the
    # singles branch).  Six scalars per doc; one kernel pass + one window
    # shuffle total with the persist.
    docs = gio.persist(
        fps.select(
            "doc_id",
            "fp",
            F.count(F.lit(1)).over(wfull).alias("csz"),
            F.min("doc_id").over(wfull).alias("cmin"),
            F.nth_value("doc_id", 2).over(wfull).alias("csecond"),
            F.row_number()
            .over(Window.partitionBy("fp").orderBy("doc_id"))
            .alias("crn"),
        )
    )

    # Band join over one representative per DISTINCT fingerprint.
    band_bits = SIMHASH_NN_BITS // SIMHASH_BANDS
    band_keys = F.array(
        *[
            F.shiftright(F.col("fp"), i * band_bits)
            .bitwiseAND(F.lit((1 << band_bits) - 1))
            .bitwiseOR(F.lit(i << band_bits))  # fold band id into the key
            for i in range(SIMHASH_BANDS)
        ]
    )
    reps = docs.filter(F.col("crn") == 1).select(
        "fp", F.col("cmin").alias("rep_doc")
    )
    bands = reps.select("fp", "rep_doc", F.explode(band_keys).alias("bk"))
    a, b = bands.alias("a"), bands.alias("b")
    hamming = F.bit_count(F.col("a.fp").bitwiseXOR(F.col("b.fp")))
    # Per source fingerprint: nearest OTHER fingerprint, tie-broken by the
    # target cluster's lowest doc_id — lexicographic struct-min, no
    # per-candidate window. A doc at distance h from fp_b is nearest to
    # fp_b's LOWEST member (same h for every member), so the cluster min
    # IS the correct nn_doc under the (hamming, nn_doc) order.
    inter = (
        a.join(b, (F.col("a.bk") == F.col("b.bk")) & (F.col("a.fp") != F.col("b.fp")))
        .filter(hamming <= HAMMING_T)
        .groupBy(F.col("a.fp").alias("fp"))
        .agg(
            F.min(
                F.struct(
                    hamming.alias("hamming"), F.col("b.rep_doc").alias("nn_doc")
                )
            ).alias("nn")
        )
        .select("fp", F.col("nn.nn_doc").alias("i_nn"), F.col("nn.hamming").alias("i_h"))
    )

    # Members of a multi-doc fingerprint cluster: NN is intra-cluster at
    # hamming 0 (any cross-cluster distance is ≥ 1); the lowest member's
    # NN is the second-lowest. Singletons take the banded inter result.
    intra = docs.filter(F.col("csz") >= 2).select(
        "doc_id",
        F.when(F.col("doc_id") == F.col("cmin"), F.col("csecond"))
        .otherwise(F.col("cmin"))
        .alias("nn_doc"),
        F.lit(0).cast("int").alias("hamming"),
    )
    singles = (
        docs.filter(F.col("csz") == 1)
        .join(inter, "fp")
        .select("doc_id", F.col("i_nn").alias("nn_doc"), F.col("i_h").alias("hamming"))
    )
    return intra.unionByName(singles)


def _driver_components(rows: list, node_t, spark: SparkSession) -> "DataFrame | None":
    """Union-find over collected (s, d) edge rows: (node, component_id)
    with component_id the minimum member, or None when a NULL endpoint
    needs the distributed loop's semantics."""
    from pyspark.sql import types as T

    if not all(r[0] is not None and r[1] is not None for r in rows):
        return None
    parent: dict = {}

    def _find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for r in rows:
        s_v, d_v = r[0], r[1]
        parent.setdefault(s_v, s_v)
        parent.setdefault(d_v, d_v)
        rs, rd = _find(s_v), _find(d_v)
        if rs != rd:
            if rd < rs:
                rs, rd = rd, rs
            parent[rd] = rs  # root stays the component minimum

    out_schema = T.StructType(
        [T.StructField("node", node_t), T.StructField("component_id", node_t)]
    )
    return spark.createDataFrame([(n, _find(n)) for n in parent], out_schema)


# connected_components: driver fast-path caps (collected edge rows, estimated
# collect bytes), the loop's round limit, and the round pointer jumping
# starts from.
_CC_DRIVER_EDGES = 200_000
_CC_DRIVER_BYTES = 64 << 20
_CC_MAX_ITER = 25
_CC_JUMP_FROM = 3


def connected_components(
    edges: DataFrame, driver_edge_cap: "int | None" = None
) -> DataFrame:
    """Connected components by iterative min-label propagation (library
    API): undirected ``(src, dst)`` edge list in, (node, component_id)
    out, where component_id = the smallest node id reachable from the
    node.

    The Pregel-lite loop: every node starts labeled with itself; each
    round a node adopts min(own label, min of neighbors' labels); stop at
    fixpoint. Rounds ≈ graph diameter (dup clusters are shallow — near-dup
    graphs are clique-ish, so 3-5 rounds in practice). Per round: one
    shuffle join (edges ⨝ labels on src) + one agg on dst — both keyed the
    same way, so AQE coalesces them tightly. localCheckpoint every round
    truncates the lineage (an iterative plan otherwise grows exponentially
    in analysis time) and materializes the small label table, never the
    edges.

    Execution shape (r12 A/B-tuned; identical output on every variant):

    - ``und`` is hash-repartitioned on ``s`` and then checkpointed
      (from the sizing cache when the driver path was tried, else
      lazily), so every round's edges⨝labels join reuses the one
      materialized layout of the edge table instead of re-exchanging it
      per round (guide §2.4), and the caller's edge lineage is cut out
      of every round's analysis (see the in-body comment).
    - checkpoints are LAZY (``eager=False``): each round's label table is
      materialized exactly once, by the convergence count that must run
      anyway, instead of once eagerly and once by the count.
    - from round ``_CC_JUMP_FROM`` the update also adopts label-of-label
      (pointer jumping / path halving), cutting rounds from O(diameter)
      to O(log diameter) on chain-shaped dup graphs.  The extra
      label⨝label join costs one small-table shuffle per round, which
      loses on shallow graphs — so the first ``_CC_JUMP_FROM - 1`` rounds
      run plain.  Measured at sf0.1: ER name graph (diameter ~4) unchanged,
      MinHash doc graph 11 rounds → 8, CC wall 10.5 s → 5.8 s.
      Adopting min(neighbor label, label-of-label) preserves the
      invariant that a node's label is always the id of some node in its
      component, so the fixpoint (component min) and the emitted rows are
      bit-identical to the plain iteration — differentially pinned by the
      recursive-CTE oracles on dedup_connected_components/_corpus_apply/
      _keep_best and the ER cluster gates.
    """
    fwd = edges.select(F.col("src").alias("s"), F.col("dst").alias("d"))
    und = fwd.union(fwd.select(F.col("d").alias("s"), F.col("s").alias("d"))).distinct()
    # Driver fast path (r12, guide §1.2 — first-principles): the
    # distributed loop costs a fixed 3-8 driver-sequential rounds of
    # (join + checkpoint + count) jobs REGARDLESS of graph size — ~0.3 s
    # per tiny job on an idle local[32], several seconds total — while a
    # 16-edge contracted append graph is microseconds of actual work
    # (profiled: er_index_append's relabel spent 3.8-5.0 s labeling 23
    # nodes).  Small graphs therefore collect and union-find on the
    # driver: label = min member per component under the column type's
    # ordering — for longs trivially Spark-identical, for strings Python
    # codepoint order == Spark's UTF8 binary order (UTF-8 preserves
    # codepoint order), so the rows are bit-identical to the loop's
    # fixpoint (pinned in tests/test_cc_property.py).  The sizing agg is
    # the same materializing action the loop's edge checkpoint would
    # run, and it is GATED on the cap being enabled so disabled (cap=0)
    # and store-scale callers pay no extra job (ADVICE r12).
    # Cap is edge-rows collected (both directions) AND estimated collect
    # bytes (VERDICT r12: 200k edges of long string names is unbounded
    # driver memory in row units); a cap of 0 disables the fast path.
    # Fast path is restricted to integral/string node types: Python and
    # Spark agree on `<` for those, while float NaN diverges (Spark
    # orders NaN greatest; Python NaN comparisons are all False).
    driver_cap = _CC_DRIVER_EDGES if driver_edge_cap is None else driver_edge_cap
    from pyspark.sql import types as T

    node_t = und.schema["s"].dataType
    _DRIVER_TYPES = (
        T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.StringType,
    )
    # localCheckpoint, not persist, for the loop (r12): persist caches the
    # DATA but the LOGICAL plan keeps the caller's full edge lineage (LSH
    # candidate joins, Levenshtein verifies, contraction joins, ...), and
    # Catalyst re-analyzes that whole tree every round — measured
    # ~0.3-0.6 s/round of pure planning on deep-lineage inputs
    # (er_index_append's contracted CC: 4.1 s → 1.6 s standalone).  The
    # checkpoint truncates the plan to a leaf while keeping the
    # repartition's hash layout on the materialized blocks.  The open
    # io.scope releases the checkpoint blocks (gio.checkpoint).
    if driver_cap > 0 and _CC_DRIVER_BYTES > 0 and isinstance(node_t, _DRIVER_TYPES):
        if isinstance(node_t, T.StringType):
            row_bytes = F.octet_length("s") + F.octet_length("d") + F.lit(64)
        else:
            row_bytes = F.lit(80)  # two boxed numerics + Row overhead
        # The sizing agg and the collect (or, past the caps, the loop's
        # edge checkpoint) read ONE cached materialization of the caller's
        # lineage, released before returning: a driver-path call leaves no
        # blocks behind.
        cached = und.persist()
        try:
            stats = cached.agg(
                F.count(F.lit(1)).alias("n"),
                F.coalesce(F.sum(row_bytes), F.lit(0)).alias("b"),
            ).collect()[0]
            if int(stats["n"]) <= driver_cap and int(stats["b"]) <= _CC_DRIVER_BYTES:
                # bounded by driver_cap rows / _CC_DRIVER_BYTES bytes
                comp = _driver_components(
                    cached.collect(), node_t, edges.sparkSession
                )
                if comp is not None:
                    return comp
            und = gio.checkpoint(cached.repartition("s"), eager=True)
        finally:
            cached.unpersist()
    else:
        # Lazy: materialized once, by the labels count that must run anyway.
        und = gio.checkpoint(und.repartition("s"))
    labels = gio.checkpoint(
        und.select(F.col("s").alias("node")).distinct().withColumn("label", F.col("node"))
    )
    for i in range(_CC_MAX_ITER):
        nbr_min = (
            und.join(labels, und["s"] == labels["node"])
            .groupBy(und["d"].alias("node2"))
            .agg(F.min("label").alias("nbr_label"))
        )
        # The convergence flag rides the label update itself (one column in
        # the checkpoint) instead of a separate new-vs-old join per round.
        cand = F.coalesce(F.col("nbr_label"), F.col("label"))
        joined = labels.join(nbr_min, labels["node"] == nbr_min["node2"], "left")
        if i + 1 >= _CC_JUMP_FROM:
            lol = labels.select(
                F.col("node").alias("jnode"), F.col("label").alias("jlabel")
            )
            joined = joined.join(lol, labels["label"] == lol["jnode"], "left")
            cand = F.least(cand, F.coalesce(F.col("jlabel"), F.col("label")))
        stepped = gio.checkpoint(
            joined.select(
                "node",
                F.least(F.col("label"), cand).alias("new_label"),
                (cand < F.col("label")).alias("chg"),
            )
        )
        changed = stepped.filter(F.col("chg")).count()
        labels = stepped.select("node", F.col("new_label").alias("label"))
        if changed == 0:
            break
    return labels.select("node", F.col("label").alias("component_id"))


# The recursive-closure prefix of the doc-cluster oracles: the MinHash
# pairs, their undirected edges, and every node's reachable peers.
_REACH_SQL = f"""
    WITH RECURSIVE pairs AS ({_minhash_oracle()}),
    edges AS (
        SELECT doc_a AS s, doc_b AS d FROM pairs
        UNION
        SELECT doc_b, doc_a FROM pairs
    ),
    reach AS (
        SELECT s AS node, d AS peer FROM edges
        UNION
        SELECT r.node, e.d FROM reach r JOIN edges e ON r.peer = e.s
    )"""


# The component CTE the labelled oracles add to _REACH_SQL.
_COMP_SQL = """,
    comp AS (
        SELECT node AS doc_id, least(node, min(peer)) AS component_id
        FROM reach GROUP BY node
    )"""


def _components_oracle() -> str:
    return _REACH_SQL + """
    SELECT node AS doc_id,
           least(node, min(peer)) AS component_id,
           (node = least(node, min(peer))) AS is_canonical
    FROM reach
    GROUP BY node
    """


def _doc_components(d: DataFrame) -> DataFrame:
    """The one doc-cluster pipeline: documents -> MinHash-LSH pairs ->
    connected components, as (doc_id, component_id) for every document
    in some near-dup pair."""
    pairs = minhash_lsh_pairs(_doc_tokens(d), "doc_id", "tk")
    return connected_components(pairs.toDF("src", "dst", "jaccard")).toDF(
        "doc_id", "component_id"
    )


def _doc_clusters(d: DataFrame, col: str) -> DataFrame:
    """(doc_id, col, cluster_id) for EVERY document: its near-dup
    component's min id, or itself when it is in no pair."""
    return d.select("doc_id", col).join(_doc_components(d), "doc_id", "left").select(
        "doc_id",
        col,
        F.coalesce(F.col("component_id"), F.col("doc_id")).alias("cluster_id"),
    )


@register("dedup_connected_components", oracle=_components_oracle(), tags=("llm", "dedup"))
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster collapse — the step after pair generation that
    actual corpus dedup needs: MinHash-LSH pairs → connected components →
    one canonical doc (min id) per cluster. Iterative label propagation on
    the Spark side; the oracle computes the same components with a
    recursive-CTE transitive closure over the identical pair set, so the
    clustering itself is differentially verified (a rare case of an
    iterative algorithm with an exact SQL oracle)."""
    comp = _doc_components(table(spark, sf_dir, "documents"))
    return comp.withColumn("is_canonical", F.col("doc_id") == F.col("component_id"))


_CONTAINMENT_T = 0.9

_CONTAINMENT_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, lang,
             list_distinct(list_filter(string_split(text, ' '), t -> t <> '')) AS tk
      FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           ROUND(CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE) / len(a.tk), 6)
               AS containment
    FROM toks a JOIN toks b
      ON a.lang = b.lang AND a.doc_id <> b.doc_id
    WHERE CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE) / len(a.tk)
          >= {_CONTAINMENT_T}
"""


@register("dedup_containment", oracle=_CONTAINMENT_ORACLE, tags=("llm", "dedup"))
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed containment similarity C(A→B) = |A∩B| / |A|: the
    asymmetric near-dup measure that catches a document EMBEDDED in a
    larger one (quote-inside-article, boilerplate wrappers) where Jaccard
    stays low because the union is dominated by the big side.

    Exact prefix-filtered plan: a pair can satisfy either containment
    direction at threshold t only if the overlap is ≥ o = ceil(t·min(|A|,
    |B|)) — C(small→big) ≥ t needs o directly, and C(big→small) ≥ t
    implies an even larger overlap. So candidates are generated with the
    SMALLER doc's static prefix (rank ≤ sz − o + 1, o from its own size)
    against the larger doc's dynamic prefix (rank_b ≤ sz_b − o_a + 1; the
    partner's o arrives through the join predicate, which is why the big
    side keeps full ranked postings). Hot tokens rank last and never
    enter the small side's prefix, so the O(df²) stopword blowup is gone
    while the result stays exact — verification recomputes both directed
    ratios from the full token arrays, and the oracle remains the direct
    all-pairs enumeration."""
    toks = _doc_tokens(table(spark, sf_dir, "documents"), "lang")
    ranked = _ranked_postings(toks, 9, 10)  # 9/10 == 0.9 exactly
    small = ranked.filter(F.col("rank") <= F.col("sz") - F.col("o") + 1).alias("a")
    big = ranked.alias("b")
    cand = (
        small.join(
            big,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.token") == F.col("b.token"))
            & (
                (F.col("a.sz") < F.col("b.sz"))
                | (
                    (F.col("a.sz") == F.col("b.sz"))
                    & (F.col("a.doc_id") < F.col("b.doc_id"))
                )
            )
            & (F.col("b.rank") <= F.col("b.sz") - F.col("a.o") + 1),
        )
        .select(F.col("a.doc_id").alias("u"), F.col("b.doc_id").alias("v"))
        .distinct()
    )
    tu = toks.select(F.col("doc_id").alias("u"), F.col("tk").alias("tk_u"))
    tv = toks.select(F.col("doc_id").alias("v"), F.col("tk").alias("tk_v"))
    both = (
        cand.join(tu, "u")
        .join(tv, "v")
        .withColumn("n_inter", F.size(F.array_intersect("tk_u", "tk_v")).cast("long"))
        .withColumn("sz_u", F.size("tk_u").cast("long"))
        .withColumn("sz_v", F.size("tk_v").cast("long"))
    )
    # Both directed ratios leave each verified pair as ONE row exploded
    # to its two directions in place — a union of two selects over `both`
    # would re-run the whole candidate join + verification for the second
    # branch (plans are trees; common subplans are recomputed, and this
    # union sat at the ROOT, doubling everything).
    directions = F.array(
        F.struct(
            F.col("u").alias("doc_a"),
            F.col("v").alias("doc_b"),
            (F.col("n_inter").cast("double") / F.col("sz_u")).alias("c"),
        ),
        F.struct(
            F.col("v").alias("doc_a"),
            F.col("u").alias("doc_b"),
            (F.col("n_inter").cast("double") / F.col("sz_v")).alias("c"),
        ),
    )
    return (
        both.select(F.explode(directions).alias("dir"))
        .select("dir.doc_a", "dir.doc_b", F.col("dir.c").alias("c"))
        .filter(F.col("c") >= _CONTAINMENT_T)
        .select("doc_a", "doc_b", F.round("c", 6).alias("containment"))
    )


@register(
    "dedup_adjacent",
    oracle="""
    WITH lagged AS (
        SELECT event_id, user_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id ORDER BY event_id)
                   AS prev_type
        FROM events
    )
    SELECT event_id, user_id, event_type
    FROM lagged
    WHERE prev_type IS NULL OR event_type <> prev_type
    """,
    tags=("dedup", "events"),
)
def dedup_adjacent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-duplicate collapse: keep an event only when it CHANGES
    the user's event_type (run-length compression of state streams —
    sensor readings, status pings; ClickHouse users reach for
    CollapsingMergeTree or groupArray+arrayCompact here). Unlike
    dedup_replacing this is order-sensitive: equal values survive if a
    different value sits between them. One lag window per user — state is
    one row regardless of run length, so it streams at any scale."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    return (
        ev.select(
            "event_id",
            "user_id",
            "event_type",
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .filter(F.col("prev_type").isNull() | (F.col("event_type") != F.col("prev_type")))
        .select("event_id", "user_id", "event_type")
    )


def _corpus_apply_oracle() -> str:
    return _REACH_SQL + _COMP_SQL + """
    SELECT d.doc_id,
           d.lang,
           COALESCE(c.component_id, d.doc_id) AS cluster_id,
           (c.component_id IS NULL OR c.component_id = d.doc_id) AS keep
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
    """


@register("dedup_corpus_apply", oracle=_corpus_apply_oracle(), tags=("llm", "dedup"))
def dedup_corpus_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The actionable end of the fuzzy-dedup pipeline: EVERY document of
    the corpus labeled keep/drop. Near-dup clusters (MinHash-LSH pairs →
    connected components) keep their min-id canonical; documents in no
    cluster keep themselves. Downstream, ``filter(keep)`` IS the deduped
    training corpus — this op is what a pipeline actually materializes,
    where dedup_connected_components only reports cluster structure for
    documents that appear in some pair.

    Plan: the LSH + label-propagation subtree (see minhash_lsh_pairs /
    connected_components) plus one left join of the full corpus to the
    (much smaller) clustered-doc table — at 100 TB the join broadcasts
    when the dup set is small and degrades to a hash join on doc_id
    otherwise. Differentially verified end-to-end against the
    recursive-CTE closure oracle over the identical pair set.
    """
    lab = _doc_clusters(table(spark, sf_dir, "documents"), "lang")
    return lab.withColumn("keep", F.col("cluster_id") == F.col("doc_id"))


def _keep_best_oracle() -> str:
    return _REACH_SQL + _COMP_SQL + """,
    lab AS (
        SELECT d.doc_id, d.n_chars,
               COALESCE(c.component_id, d.doc_id) AS cluster_id
        FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
    )
    SELECT doc_id, cluster_id, n_chars,
           (row_number() OVER (PARTITION BY cluster_id
                               ORDER BY n_chars DESC, doc_id) = 1) AS keep
    FROM lab
    """


@register("dedup_keep_best", oracle=_keep_best_oracle(), tags=("llm", "dedup"))
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering with a QUALITY-chosen representative: where
    dedup_corpus_apply keeps each cluster's min doc_id, this keeps its
    LONGEST member (n_chars, doc_id tiebreak) — the policy a training
    pipeline actually wants, since the min-id member of a near-dup cluster
    is often the truncated variant. Same LSH → connected-components
    subtree; representative election is one row_number window over
    cluster_id, so swapping the quality metric (model score, fetch date)
    is a one-line ORDER BY change. Cluster cardinality is bounded by dup
    structure, not corpus size — the window never sees a giant partition
    unless the corpus genuinely contains a giant dup cluster, which is
    exactly the case you want surfaced."""
    lab = _doc_clusters(table(spark, sf_dir, "documents"), "n_chars")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    return lab.select(
        "doc_id",
        "cluster_id",
        "n_chars",
        (F.row_number().over(w) == 1).alias("keep"),
    )


_SPAN_W = 10  # window width in tokens (Lee et al. 2022 use 50-token spans
# on BPE tokens; the synthetic fixture's docs are 10-99 whitespace tokens,
# so 10 keeps every doc in scope while exercising the identical plan)


def _span_oracle() -> str:
    return f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), t -> t <> '') AS tk
      FROM documents
    ),
    win AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(unnest(list_transform(
               range(1, len(tk) - {_SPAN_W - 2}),
               i -> array_to_string(list_slice(tk, i, i + {_SPAN_W - 1}), ' ')
             ))), 1, 15)) AS BIGINT) AS g
      FROM toks WHERE len(tk) >= {_SPAN_W}
    ),
    per_doc_gram AS (
      SELECT doc_id, g, count(*) AS k
      FROM win GROUP BY doc_id, g
    ),
    gram_docs AS (
      SELECT g, count(*) AS n_docs
      FROM per_doc_gram GROUP BY g
    )
    SELECT d.doc_id,
           CAST(sum(d.k) AS BIGINT) AS n_windows,
           CAST(sum(CASE WHEN gd.n_docs >= 2 THEN d.k ELSE 0 END) AS BIGINT)
               AS n_dup_windows,
           round(sum(CASE WHEN gd.n_docs >= 2 THEN d.k ELSE 0 END)
                 / CAST(sum(d.k) AS DOUBLE), 6) AS dup_frac
    FROM per_doc_gram d JOIN gram_docs gd ON d.g = gd.g
    GROUP BY d.doc_id
    """


@register("dedup_substring_spans", oracle=_span_oracle(), tags=("llm", "dedup"))
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-span duplication profiling (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): every
    W-token window of every document is hashed; a window is *duplicated*
    if the identical token span occurs in at least one OTHER document.
    Output per doc: total windows, duplicated-window count, duplicated
    fraction — the signal used to cut boilerplate/templated spans that
    survive whole-doc MinHash (which only catches near-identical DOCS,
    not shared paragraphs inside otherwise-distinct docs).

    Scale shape (the suffix-array of the paper is a single-machine
    construct; this is its shuffle-native equivalent):
      1. tokenize + rolling windows as array lambdas — zero shuffle,
         O(tokens) rows emitted with an 8-byte hash key, raw strings
         dropped before anything moves;
      2. (doc_id, g) pre-aggregation — map-side combine collapses
         within-doc repeats, so the wire carries at most one row per
         distinct (doc, span);
      3. per-span doc-frequency as a count-over-window on g — NOT a
         groupBy + join-back: Spark plans are trees, so a self-join
         would re-run the explode/hash subtree for the second branch,
         doubling the O(tokens) work (the window form is asserted in
         tests/test_plans.py: exactly one Generate);
      4. roll up per doc. Three narrow shuffles total ((doc_id,g) → g →
         doc_id), each carrying only ids, hashes and counts.
    Hash = md5-derived 60-bit key on BOTH sides (decontaminate's parity
    trick) so Spark and the oracle agree by construction."""
    d = table(spark, sf_dir, "documents")
    # Token array bound in its own projection BEFORE the per-window
    # lambda references it: interpreted HOFs do no common-subexpression
    # elimination, so an unbound tk re-tokenized the document inside
    # every window's slice() — O(tokens²) per doc (same fix as
    # text_ngram_novelty, measured 7× there).  explode_outer over the
    # bound hash array + scalar NULL filter keeps
    # InferFiltersFromGenerate from re-evaluating the window transform.
    toks = d.select("doc_id", _tokens(F.col("text")).alias("tk")).filter(
        F.size("tk") >= _SPAN_W
    )
    tk = F.col("tk")
    wins = F.transform(
        F.sequence(F.lit(1), F.size(tk) - F.lit(_SPAN_W - 1)),
        lambda i: F.conv(
            F.substring(F.md5(F.array_join(F.slice(tk, i, _SPAN_W), " ")), 1, 15),
            16,
            10,
        ).cast("long"),
    )
    per_doc_gram = (
        toks.select("doc_id", wins.alias("w"))
        .select("doc_id", F.explode_outer("w").alias("g"))
        .filter(F.col("g").isNotNull())
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    n_docs = F.count(F.lit(1)).over(Window.partitionBy("g"))
    dup_k = F.when(F.col("n_docs") >= 2, F.col("k")).otherwise(F.lit(0))
    return (
        per_doc_gram.withColumn("n_docs", n_docs)
        .groupBy("doc_id")
        .agg(
            F.sum("k").cast("long").alias("n_windows"),
            F.sum(dup_k).cast("long").alias("n_dup_windows"),
            F.round(
                F.sum(dup_k) / F.sum("k").cast("double"), 6
            ).alias("dup_frac"),
        )
    )


@register(
    "dedup_cluster_stats",
    oracle=f"""
    WITH sets AS (
      SELECT list_sort(list_distinct(list_transform(
               list_filter(string_split(text, ' '), t -> t <> ''),
               t -> CAST(('0x' || substring(md5(t), 1, 15)) AS BIGINT)))) AS s
      FROM documents
      WHERE len(list_filter(string_split(text, ' '), t -> t <> '')) > 0
    ),
    clusters AS (SELECT s, COUNT(*) AS c FROM sets GROUP BY s)
    SELECT CAST(c AS BIGINT) AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(c * COUNT(*) AS BIGINT) AS n_docs,
           CAST((c - 1) * COUNT(*) AS BIGINT) AS dup_docs
    FROM clusters
    GROUP BY c
    """,
    tags=("llm", "dedup"),
)
def dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus duplication profile: the cluster-size histogram of exact
    token-set duplicates — THE dashboard numbers a dedup pass is judged
    by (what fraction of the corpus is duplicate mass, and whether it
    sits in a few giant boilerplate clusters or a long tail of pairs).
    ``dup_docs`` per row is the documents a keep-one-per-cluster pass
    would delete at that cluster size; summing the column gives the
    corpus dup rate.

    Shape: one doc-linear pass (tokenize → hash → sort, all codegen) +
    two combiner-bounded groupBys — first on the set key (boilerplate
    clusters collapse map-side), then on the size.  No joins, no pair
    enumeration; runs ahead of the LSH pass to size it.  Uses the same
    _set_keyed cluster key as the collapse/index machinery, so its
    numbers are exactly the clusters those paths exploit."""
    keyed = _set_keyed(_doc_tokens(table(spark, sf_dir, "documents")), "doc_id", "tk")
    sizes = keyed.groupBy("__set").agg(F.count(F.lit(1)).alias("c"))
    return sizes.groupBy("c").agg(
        F.col("c").alias("cluster_size"),
        F.count(F.lit(1)).alias("n_clusters"),
        (F.col("c") * F.count(F.lit(1))).alias("n_docs"),
        ((F.col("c") - F.lit(1)) * F.count(F.lit(1))).alias("dup_docs"),
    ).drop("c")


_SWEEP_FLOOR = 0.80  # lowest threshold the sweep surveys
_SWEEP_BIN_E6 = 50_000  # bin width 0.05 in 1e-6 jaccard units


@register(
    "dedup_threshold_sweep",
    oracle=f"""
    WITH pairs AS ({_minhash_oracle(threshold=_SWEEP_FLOOR)})
    SELECT CAST(ROUND(jaccard * 1000000) AS BIGINT) // {_SWEEP_BIN_E6} AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM pairs
    GROUP BY 1
    """,
    tags=("llm", "dedup"),
)
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pair histogram by Jaccard band (width 0.05, floor 0.80)
    — the knob-tuning dashboard for the dedup threshold: "how many more
    pairs would T=0.90 delete than T=0.95" read off one run instead of
    re-running the pipeline per candidate T.  Counts are pairs the
    4×12 banding CATCHES at each level (recall follows the band curve,
    ~0.25 at J=0.80 rising to ~1 at J→1), which is exactly the
    population a threshold change would act on; the oracle mirrors the
    banded construction at the same floor, so the histogram is
    differentially gated bit-for-bit.  Binning is integer math on the
    6-dp-rounded jaccard (never FLOOR(j/0.05), whose float division
    misbins exact boundaries like 0.95).  Same collapsed plan as
    dedup_fuzzy_minhash — only the threshold and the final
    combiner-bounded groupBy differ."""
    d = table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        _doc_tokens(d), "doc_id", "tk", threshold=_SWEEP_FLOOR
    )
    return (
        pairs.select(
            F.expr(
                f"CAST(ROUND(jaccard * 1000000) AS BIGINT) div {_SWEEP_BIN_E6}"
            ).alias("bin")
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


@register(
    "dedup_lsh_recall",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             list_distinct(list_transform(
               list_transform(list_filter(string_split(text, ' '), t -> t <> ''),
                              t -> CAST(('0x' || substring(md5(t), 1, 15)) AS BIGINT)),
               h -> h & {MERSENNE31})) AS tk32
      FROM documents
      WHERE len(list_filter(string_split(text, ' '), t -> t <> '')) > 0
    ),
    ex AS (
      SELECT COUNT(*) AS n_exact
      FROM toks a JOIN toks b ON a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.tk32, b.tk32)) AS DOUBLE)
            / (len(a.tk32) + len(b.tk32) - len(list_intersect(a.tk32, b.tk32)))
            >= {JACCARD_T}
    ),
    caught AS (SELECT COUNT(*) AS n_caught FROM ({_minhash_oracle()}) q)
    SELECT CAST(n_exact AS BIGINT) AS n_exact,
           CAST(n_caught AS BIGINT) AS n_caught,
           ROUND(CAST(n_caught AS DOUBLE) / NULLIF(n_exact, 0), 6) AS recall
    FROM ex, caught
    """,
    tags=("llm", "dedup"),
)
def dedup_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured LSH recall as a HASH-GATED number, not a probabilistic
    bound: the exact pair count at J >= 0.95 (prefix-filtered inverted
    index — lossless by the AllPairs theorem, see
    jaccard_prefix_candidates — over the SAME 31-bit masked token-hash
    space the LSH verify uses) against the banded pipeline's caught
    count.  Caught pairs are verified in that space, hence a strict
    subset of exact — recall = caught/exact is exactly defined, both
    sides are deterministic, and the DuckDB oracle recomputes the exact
    side by all-pairs enumeration and the caught side by the mirrored
    band construction, so the measured recall itself must match
    bit-for-bit.  This is the per-corpus answer to "is 4x12 banding
    good enough for THIS data" — the band-curve math says ~0.955 at the
    threshold; this op says what actually happened.

    Scale shape: the exact side is the prefix-filtered plan (hot tokens
    never enter prefixes — no posting-list blowup) over the LSH verify
    tokens (_tk32), scored by the same _verify_jaccard; the caught side is
    the collapsed LSH plan; two count aggregates cross-joined into one
    row.  md5 space on both sides by construction."""
    toks = _doc_tokens(table(spark, sf_dir, "documents"))
    t32 = (
        _hashed_tokens(toks, "doc_id", "tk")
        .select("__id", _tk32().alias("__tk32"))
        .filter(F.size("__tk32") > 0)
    )
    # Prefix filtering runs on the masked hashes spelled as strings (the
    # machinery is token-type-agnostic; the total order just has to be
    # shared), one global shard.
    str_toks = t32.select(
        F.col("__id").alias("doc_id"),
        F.lit("all").alias("lang"),
        F.transform("__tk32", lambda h: h.cast("string")).alias("tk"),
    )
    cand = jaccard_prefix_candidates(str_toks, 19, 20)  # 19/20 == 0.95
    exact = _verify_jaccard(cand.toDF("id_a", "id_b"), t32, JACCARD_T)
    caught = minhash_lsh_pairs(toks, "doc_id", "tk")
    ex = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    ca = caught.agg(F.count(F.lit(1)).alias("n_caught"))
    return ex.crossJoin(ca).select(
        "n_exact",
        "n_caught",
        F.round(
            F.try_divide(F.col("n_caught"), F.nullif("n_exact", F.lit(0))), 6
        ).alias("recall"),
    )


_URL_ORACLE = """
    WITH urls AS (
        SELECT doc_id,
               CASE doc_id % 4
                 WHEN 0 THEN 'https://WWW.' || source || '.Example.com/articles/'
                             || CAST(doc_id // 7 AS VARCHAR)
                             || '?utm_source=feed&id=' || CAST(doc_id % 3 AS VARCHAR)
                 WHEN 1 THEN 'https://www.' || source || '.example.com:443/articles/'
                             || CAST(doc_id // 7 AS VARCHAR)
                             || '?id=' || CAST(doc_id % 3 AS VARCHAR) || '&utm_campaign=x'
                 WHEN 2 THEN 'https://www.' || source || '.example.com/articles/'
                             || CAST(doc_id // 7 AS VARCHAR) || '/?id='
                             || CAST(doc_id % 3 AS VARCHAR) || '#frag'
                 ELSE        'https://www.' || source || '.example.com/articles/'
                             || CAST(doc_id // 7 AS VARCHAR)
                             || '?id=' || CAST(doc_id % 3 AS VARCHAR)
               END AS url
        FROM documents
    ),
    canon AS (
        SELECT doc_id, url,
               lower(regexp_extract(url, '^(https?)://', 1)) || '://'
               || regexp_replace(lower(regexp_extract(url, '://([^/]+)', 1)),
                                 ':443$', '')
               || regexp_replace(regexp_extract(url, '://[^/]+(/[^?#]*)', 1),
                                 '/$', '')
               || CASE WHEN array_to_string(list_sort(list_filter(
                            string_split(regexp_extract(url, '\\?([^#]*)', 1), '&'),
                            p -> p <> '' AND NOT starts_with(p, 'utm_'))), '&') <> ''
                       THEN '?' || array_to_string(list_sort(list_filter(
                            string_split(regexp_extract(url, '\\?([^#]*)', 1), '&'),
                            p -> p <> '' AND NOT starts_with(p, 'utm_'))), '&')
                       ELSE '' END
               AS canonical_url
        FROM urls
    )
    SELECT canonical_url,
           CAST(min(doc_id) AS BIGINT) AS keep_doc_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT url) AS BIGINT) AS n_raw_variants
    FROM canon
    GROUP BY canonical_url
"""


@register("dedup_url_canonical", oracle=_URL_ORACLE, tags=("llm", "dedup"))
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization dedup — the crawl-pipeline stage BEFORE any
    text dedup: the same page fetched as ``HTTPS://WWW.Host/x/?utm_...#f``
    and ``https://www.host:443/x?...`` must collapse to one canonical key
    so only one copy's text enters the corpus. The fixture has no URL
    column, so the query materializes a deterministic messy-URL variant
    per doc from (doc_id, source) IDENTICALLY in the oracle — the
    text_pii_scrub precedent: non-vacuous and fully differential.

    Canonicalization (each rule a codegen'd regex/array expression, the
    same chain in both engines): lowercase scheme and host, strip the
    default :443 port, drop the fragment, strip the trailing slash,
    drop ``utm_*`` tracking params, and SORT the surviving query params
    so param order can't split a group. Then one groupBy(canonical_url):
    keeper = min doc_id, duplicate and raw-variant counts.

    Scale shape: pure per-row string expressions (no UDF) + one hash
    aggregate on the canonical key — the same plan at 100 TB, with the
    canonical key also being the natural partition key for downstream
    incremental crawls."""
    d = table(spark, sf_dir, "documents")
    m = F.col("doc_id") % 4
    base = F.concat(
        F.lit("www."), F.col("source"), F.lit(".example.com")
    )
    path = F.concat(F.lit("/articles/"), (F.col("doc_id") / 7).cast("long").cast("string"))
    idp = F.concat(F.lit("id="), (F.col("doc_id") % 3).cast("string"))
    url = (
        F.when(m == 0, F.concat(F.lit("https://WWW."), F.col("source"),
                                F.lit(".Example.com"), path,
                                F.lit("?utm_source=feed&"), idp))
        .when(m == 1, F.concat(F.lit("https://"), base, F.lit(":443"), path,
                               F.lit("?"), idp, F.lit("&utm_campaign=x")))
        .when(m == 2, F.concat(F.lit("https://"), base, path, F.lit("/?"), idp,
                               F.lit("#frag")))
        .otherwise(F.concat(F.lit("https://"), base, path, F.lit("?"), idp))
    )
    u = d.select("doc_id", url.alias("url"))
    qs = F.regexp_extract(F.col("url"), r"\?([^#]*)", 1)
    kept = F.array_join(
        F.array_sort(
            F.filter(
                F.split(qs, "&"),
                lambda p: (p != "") & ~p.startswith("utm_"),
            )
        ),
        "&",
    )
    canonical = F.concat(
        F.lower(F.regexp_extract(F.col("url"), r"^(https?)://", 1)),
        F.lit("://"),
        F.regexp_replace(
            F.lower(F.regexp_extract(F.col("url"), r"://([^/]+)", 1)), r":443$", ""
        ),
        F.regexp_replace(
            F.regexp_extract(F.col("url"), r"://[^/]+(/[^?#]*)", 1), r"/$", ""
        ),
        F.when(kept != "", F.concat(F.lit("?"), kept)).otherwise(F.lit("")),
    )
    return (
        u.select("doc_id", "url", canonical.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("url").alias("n_raw_variants"),
        )
    )
