"""Text-analysis operators for training-data pipelines (SURVEY.md §2b:
LLM-data-pipeline ops — text family).

Everything here is whole-stage-codegen'd Column expressions (split/
higher-order array lambdas/regexp) — no Python UDFs — so per-document cost
is JVM-vectorized and the only shuffles are the explicit groupBys. Token
explosion (`explode`) multiplies rows ~100×; every pipeline below filters
or aggregates immediately after the explode so the shuffled volume is
token *counts*, never raw token rows, which is what keeps these viable on
a 100 TB corpus.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sqlite_to_clickhouse_spark.io import table
from sqlite_to_clickhouse_spark.registry import register

# Stopword list used by quality scoring + language-ID marker scoring.
_STOPWORDS = ("the", "a", "of", "and", "to", "in")

# Marker tokens per language for the n-gram/stopword language-ID heuristic.
# Real corpora would use char n-gram profiles; the fixture vocabulary is a
# closed set, so the heuristic degenerates gracefully (ties broken by the
# fixed language order below).
_LANG_MARKERS = {
    "en": ("the", "a", "fast", "small"),
    "de": ("der", "und", "die", "nicht"),
    "es": ("el", "la", "que", "de"),
    "fr": ("le", "la", "et", "les"),
    "zh": ("de", "le", "shi", "bu"),
}
_LANG_ORDER = ("en", "de", "es", "fr", "zh")


def _tokens(col):
    """Whitespace tokens with empties dropped — identical semantics to the
    oracle's string_split + list_filter."""
    return F.filter(F.split(col, " "), lambda t: t != "")


@register(
    "text_tokens",
    oracle="""
    SELECT doc_id, lang,
           len(list_filter(string_split(text, ' '), t -> t <> ''))  AS n_tokens,
           len(list_distinct(list_filter(string_split(text, ' '), t -> t <> '')))
                                                                    AS n_distinct,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))
                                                                    AS n_bpe_ish,
           length(text)                                             AS n_chars_measured
    FROM documents
    """,
    tags=("llm", "text"),
)
def text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenization + token/char counting (whitespace and a BPE-ish regex).

    The regex tokenizer approximates BPE pre-tokenization (letter runs,
    digit runs, single punctuation) — the standard cheap token-count proxy
    when the real tokenizer is too expensive to run over a full corpus.
    """
    d = table(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    return d.select(
        "doc_id",
        "lang",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"), F.lit(0)))
        .cast("long")
        .alias("n_bpe_ish"),
        F.length("text").cast("long").alias("n_chars_measured"),
    )


@register(
    "text_term_freq",
    oracle="""
    SELECT token, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
    FROM (SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS token
          FROM documents)
    GROUP BY token
    """,
    tags=("llm", "text"),
)
def text_term_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus term + document frequency: explode → immediate aggregate.

    The map-side partial combine collapses each partition's token stream
    to its distinct tokens before the shuffle, so wire volume is
    O(vocab × partitions) regardless of corpus size.
    """
    d = table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.explode(_tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.countDistinct("doc_id").alias("df"),
        )
    )


@register(
    "text_tfidf",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS token
      FROM documents
    ),
    tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token),
    df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY token),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT tf.doc_id, tf.token, tf.tf, df.df,
           ROUND(tf.tf * LN(CAST(n.n_docs AS DOUBLE) / CAST(df.df AS DOUBLE)), 6) AS tfidf
    FROM tf JOIN df ON tf.token = df.token CROSS JOIN n
    """,
    tags=("llm", "text"),
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact TF-IDF per (doc, token): ONE tokenize pass, one aggregate,
    one window.

    Document frequency is a count-over-window on token over the TF rows
    (which are distinct (doc, token) pairs, so the partition count IS
    df) — not a second groupBy of the token stream joined back: Spark
    plans are trees, so the join form re-runs the corpus explode for the
    df branch, doubling the tokenize work at 100 TB (the single-Generate
    shape is asserted in tests/test_plans.py). The doc count rides a
    broadcast scalar from a payload-free second scan (row count only —
    cheap; it never re-tokenizes). Exact counts, fully oracle-checkable
    — not the MLlib HashingTF path."""
    d = table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(_tokens(F.col("text"))).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df_w = F.count(F.lit(1)).over(Window.partitionBy("token"))
    n_docs = d.select(F.count(F.lit(1)).alias("n_docs"))
    return (
        tf.withColumn("df", df_w)
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "token",
            "tf",
            "df",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df").cast("double")),
                6,
            ).alias("tfidf"),
        )
    )


@register(
    "text_lang_filter",
    oracle="""
    SELECT source, COUNT(*) AS n_docs,
           ROUND(AVG(CAST(n_chars AS DOUBLE)), 4) AS avg_chars,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents WHERE lang = 'en'
    GROUP BY source
    """,
    tags=("llm", "text"),
)
def text_lang_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language slice + per-source stats (documents.lang/source)."""
    d = table(spark, sf_dir, "documents")
    return (
        d.filter(F.col("lang") == "en")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg(F.col("n_chars").cast("double")), 4).alias("avg_chars"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


def _langid_oracle() -> str:
    score = {
        lang: f"len(list_filter(list_filter(string_split(text, ' '), t -> t <> ''), "
        f"t -> t IN ({', '.join(repr(m) for m in markers)})))"
        for lang, markers in _LANG_MARKERS.items()
    }
    best = " ".join(
        f"WHEN {score[lang]} >= GREATEST({', '.join(score[o] for o in _LANG_ORDER)}) THEN '{lang}'"
        for lang in _LANG_ORDER
    )
    cols = ", ".join(f"{score[lang]} AS score_{lang}" for lang in _LANG_ORDER)
    return f"SELECT doc_id, lang AS labeled_lang, {cols}, CASE {best} END AS predicted_lang FROM documents"


@register("text_langid", oracle=_langid_oracle(), tags=("llm", "text"))
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language-ID heuristic: per-language marker hit counts,
    argmax with a fixed priority order for ties.

    Pure array lambdas — the per-doc cost is a few comparisons per token,
    no shuffle at all (embarrassingly parallel over the corpus).
    """
    d = table(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    def _marker_pred(markers):
        # Factory binding (PySpark reads lambda arity, so no default args).
        return lambda t: t.isin(*markers)

    scores = {
        lang: F.size(F.filter(toks, _marker_pred(markers))).cast("long")
        for lang, markers in _LANG_MARKERS.items()
    }
    expr = None
    all_scores = list(scores[lang] for lang in _LANG_ORDER)
    for lang in _LANG_ORDER:
        cond = scores[lang] >= F.greatest(*all_scores)
        expr = F.when(cond, lang) if expr is None else expr.when(cond, lang)
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        *[scores[lang].alias(f"score_{lang}") for lang in _LANG_ORDER],
        expr.alias("predicted_lang"),
    )


@register(
    "text_quality",
    oracle=f"""
    SELECT doc_id,
           length(text)                                              AS n_chars_measured,
           len(list_filter(string_split(text, ' '), t -> t <> ''))   AS n_tokens,
           ROUND(CAST(length(replace(text, ' ', '')) AS DOUBLE)
                 / GREATEST(len(list_filter(string_split(text, ' '), t -> t <> '')), 1), 6)
                                                                     AS avg_token_len,
           ROUND(CAST(len(list_filter(string_split(text, ' '),
                            t -> t IN ({', '.join(repr(s) for s in _STOPWORDS)}))) AS DOUBLE)
                 / GREATEST(len(list_filter(string_split(text, ' '), t -> t <> '')), 1), 6)
                                                                     AS stopword_ratio,
           ROUND(CAST(len(list_distinct(list_filter(string_split(text, ' '), t -> t <> ''))) AS DOUBLE)
                 / GREATEST(len(list_filter(string_split(text, ' '), t -> t <> '')), 1), 6)
                                                                     AS distinct_ratio
    FROM documents
    """,
    tags=("llm", "text"),
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-scoring signals: length, avg token length, stopword ratio,
    lexical diversity — the standard cheap filters before LLM training."""
    d = table(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    n_tok = F.greatest(F.size(toks), F.lit(1))
    return d.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_measured"),
        F.size(toks).cast("long").alias("n_tokens"),
        F.round(
            F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double") / n_tok, 6
        ).alias("avg_token_len"),
        F.round(
            F.size(F.filter(toks, lambda t: t.isin(*_STOPWORDS))).cast("double") / n_tok, 6
        ).alias("stopword_ratio"),
        F.round(F.size(F.array_distinct(toks)).cast("double") / n_tok, 6).alias("distinct_ratio"),
    )


@register(
    "doc_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(text) AS content_md5,
           list_aggregate(list_transform(list_filter(string_split(text, ' '), t -> t <> ''),
                                         t -> md5(t)), 'min') AS min_token_hash,
           CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT) AS fingerprint60
    FROM documents
    """,
    tags=("llm", "text"),
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: full-content hash, winnowing-style minimum
    token hash, and a 60-bit numeric fingerprint.

    md5 is used (not xxhash) because it is bit-identical across engines —
    the property the differential oracle needs; at scale you'd swap in
    xxhash64 for speed without changing the plan shape.
    """
    d = table(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    return d.select(
        "doc_id",
        F.md5("text").alias("content_md5"),
        F.array_min(F.transform(toks, lambda t: F.md5(t))).alias("min_token_hash"),
        F.conv(F.substring(F.md5("text"), 1, 15), 16, 10).cast("long").alias("fingerprint60"),
    )


@register(
    "text_ngrams",
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS tk
      FROM documents
    ),
    grams AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(tk)),
                                   i -> tk[i] || ' ' || tk[i + 1])) AS bigram
      FROM toks
    )
    SELECT bigram, COUNT(*) AS freq, COUNT(DISTINCT doc_id) AS n_docs
    FROM grams GROUP BY bigram HAVING COUNT(*) >= 5
    """,
    tags=("llm", "text", "ngram"),
)
def text_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram frequencies (n-gram family): generate adjacent-token
    bigrams with a JVM-side sequence/transform (no UDF), explode, and
    aggregate corpus-wide counts + document frequency. The HAVING cut
    keeps the shuffled result to frequent grams — at corpus scale the
    long tail is the volume, so threshold before any join against it."""
    d = table(spark, sf_dir, "documents")
    # tk bound first (interpreted-HOF CSE fix, see text_ngram_novelty):
    # unbound, each bigram's element_at re-tokenized the document.
    toks = d.select("doc_id", _tokens(F.col("text")).alias("tk"))
    tk = F.col("tk")
    # Guard: sequence(0, -1) runs DESCENDING in Spark, so a 0/1-token doc
    # would fabricate indices — emit an empty array instead.
    bigrams = F.when(F.size(tk) < 2, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.size(tk) - 2),
            lambda i: F.concat_ws(" ", F.element_at(tk, i + 1), F.element_at(tk, i + 2)),
        )
    )
    return (
        toks.select("doc_id", bigrams.alias("bg"))
        .select("doc_id", F.explode_outer("bg").alias("bigram"))
        .filter(F.col("bigram").isNotNull())
        .groupBy("bigram")
        .agg(
            F.count(F.lit(1)).alias("freq"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .filter(F.col("freq") >= 5)
    )


@register(
    "text_bpe_tokens",
    oracle=r"""
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]'))) AS BIGINT)
               AS sum_bpe_tokens,
           CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT)
               AS sum_ws_tokens,
           round(avg(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]'))), 4)
               AS avg_bpe_tokens
    FROM documents
    GROUP BY lang
    """,
    tags=("text", "llm"),
)
def text_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting for pipeline budgeting: a BPE-ish lexer regex
    (letter runs | digit runs | single non-alnum) next to plain whitespace
    tokens, aggregated per language. Both counts are single-pass
    projections feeding a tiny groupBy(lang) — regexp_extract_all and
    split are JVM intrinsics, so the scan stays inside codegen with no
    Python in the loop."""
    d = table(spark, sf_dir, "documents")
    bpe = F.size(
        F.regexp_extract_all(F.col("text"), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), F.lit(0))
    )
    ws = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    return (
        d.select("lang", bpe.alias("bpe"), ws.alias("ws"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("bpe").cast("long").alias("sum_bpe_tokens"),
            F.sum("ws").cast("long").alias("sum_ws_tokens"),
            F.round(F.avg("bpe"), 4).alias("avg_bpe_tokens"),
        )
    )


@register(
    "text_line_dedup",
    oracle="""
    WITH lines AS (
        SELECT doc_id, unnest(string_split(text, '. ')) AS line
        FROM documents
    ),
    ne AS (SELECT doc_id, line FROM lines WHERE line <> ''),
    freq AS (SELECT line, count(*) AS cnt FROM ne GROUP BY line)
    SELECT n.doc_id,
           count(*)                                          AS n_lines,
           CAST(sum(CASE WHEN f.cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
                                                             AS n_dup_lines,
           FLOOR(CAST(sum(CASE WHEN f.cnt > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*) * 1000000) / 1000000              AS dup_ratio
    FROM ne n JOIN freq f ON n.line = f.line
    GROUP BY n.doc_id
    """,
    tags=("llm", "text", "dedup"),
)
def text_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document (line/sentence-level) duplication profile — the
    C4/RefinedWeb-style step that catches boilerplate sentences repeated
    across a corpus even when no whole document duplicates: split each
    doc into '. '-delimited lines, count each line's global frequency,
    and score every doc by its share of corpus-duplicated lines
    (downstream: drop lines with cnt>1 keeping one copy, or drop docs
    with dup_ratio above a threshold).

    Plan: explode → line frequency as a count-over-window on the line →
    per-doc agg. ONE explode pass: the earlier grouped-count-and-join-
    back form re-ran the split/explode subtree for the frequency branch
    (plans are trees — same flaw fixed in text_tfidf and
    dedup_substring_spans). At 100 TB hash lines to 64-bit before the
    shuffle (as minhash does) and the partition key drops from
    ~100-char strings to 8 bytes."""
    d = table(spark, sf_dir, "documents")
    lines = d.select(
        "doc_id", F.explode(F.split(F.col("text"), r"\. ")).alias("line")
    ).filter(F.col("line") != "")
    dup = F.sum(F.when(F.col("cnt") > 1, 1).otherwise(0))
    return (
        lines.withColumn("cnt", F.count(F.lit(1)).over(Window.partitionBy("line")))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dup.cast("long").alias("n_dup_lines"),
            (
                F.floor(dup.cast("double") / F.count(F.lit(1)) * 1_000_000)
                / 1_000_000
            ).alias("dup_ratio"),
        )
    )


@register(
    "text_repetition",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), t -> t <> '') AS tk
      FROM documents
    ),
    bg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(tk)),
                                   i -> tk[i] || ' ' || tk[i + 1])) AS g
      FROM toks WHERE len(tk) >= 2
    ),
    cnts AS (
      SELECT doc_id, g, count(*) AS c FROM bg GROUP BY doc_id, g
    )
    SELECT doc_id,
           CAST(sum(c) AS BIGINT)   AS n_bigrams,
           CAST(count(*) AS BIGINT) AS n_distinct_bigrams,
           FLOOR((sum(c) - count(*)) / CAST(sum(c) AS DOUBLE) * 1000000)
             / 1000000 AS dup_bigram_frac,
           FLOOR(max(c) / CAST(sum(c) AS DOUBLE) * 1000000)
             / 1000000 AS top_bigram_frac
    FROM cnts GROUP BY doc_id
    """,
    tags=("llm", "text", "quality"),
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals: per document, the fraction
    of token bigrams that are repeats and the share taken by the single
    most frequent bigram. High values mark degenerate/templated text that
    survives document-level dedup (the 'most frequent n-gram' and
    'duplicate n-gram' rules from the Gopher/MassiveText filter set).

    Plan: ZERO shuffles — every metric is a per-row array expression.
    The top-bigram count is the longest run in the doc's SORTED bigram
    array (sort + one fold), and the distinct count is array_distinct —
    no explode, no per-(doc, bigram) exchange, embarrassingly parallel
    over the corpus (an earlier explode + double-groupBy spelling
    shuffled 2.3M bigram rows at sf0.1 and cost 3.5 s; this runs in the
    scan). The oracle keeps the relational spelling — identical values.
    Docs with <2 tokens have no bigrams and drop out, same as the
    oracle's len(tk) >= 2 guard.
    """
    d = table(spark, sf_dir, "documents")
    # tk bound first (interpreted-HOF CSE fix, see text_ngram_novelty):
    # unbound, each bigram's element_at re-tokenized the document.
    d = d.select("doc_id", _tokens(F.col("text")).alias("tk"))
    tk = F.col("tk")
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size(tk) - 1),
        lambda i: F.concat_ws(
            " ", F.element_at(tk, i), F.element_at(tk, i + F.lit(1))
        ),
    )
    # Longest run in the sorted array == max multiplicity. Accumulator:
    # (prev element, current run, best run).
    top_cnt = F.aggregate(
        F.array_sort(F.col("_bg")),
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("long")).alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("long")),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    n = F.size("_bg").cast("long")
    n_dist = F.size(F.array_distinct("_bg")).cast("long")
    return (
        d.filter(F.size(tk) >= 2)
        .select("doc_id", bigrams.alias("_bg"))
        .select(
            "doc_id",
            n.alias("n_bigrams"),
            n_dist.alias("n_distinct_bigrams"),
            (
                F.floor((n - n_dist) / n.cast("double") * 1_000_000) / 1_000_000
            ).alias("dup_bigram_frac"),
            (
                F.floor(top_cnt / n.cast("double") * 1_000_000) / 1_000_000
            ).alias("top_bigram_frac"),
        )
    )


_DECON_N = 13  # n-gram width: the GPT-3/PaLM decontamination standard


def _decon_oracle() -> str:
    return f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), t -> t <> '') AS tk
      FROM documents
    ),
    grams AS (
      -- distinct applied AFTER hashing, mirroring the engine (which
      -- hashes inside the array then array_distincts the 60-bit keys):
      -- a within-doc collision merges identically on both sides.
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               list_transform(range(1, len(tk) - {_DECON_N - 2}),
                 i -> array_to_string(list_slice(tk, i, i + {_DECON_N - 1}), ' ')),
               s -> CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT)
             ))) AS g
      FROM toks WHERE len(tk) >= {_DECON_N}
    )
    SELECT t.doc_id AS train_doc, b.doc_id AS bench_doc,
           CAST(count(*) AS BIGINT) AS n_shared_13grams
    FROM grams t JOIN grams b ON t.g = b.g
    WHERE t.doc_id % 50 <> 0 AND b.doc_id % 50 = 0
    GROUP BY t.doc_id, b.doc_id
    """


@register("text_decontaminate", oracle=_decon_oracle(), tags=("llm", "text", "dedup"))
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: find training documents sharing any
    13-gram with a held-out benchmark set (the GPT-3/PaLM n-gram-overlap
    rule; docs surfacing here get dropped or span-redacted before
    training). The fixture's benchmark slice is doc_id % 50 == 0.

    Plan: per side, DISTINCT 13-grams inside the array (array_distinct
    before explode — no countDistinct shuffle later), explode, inner join
    train grams to bench grams on the gram, count per (train, bench)
    pair. The bench side is small by construction (2 % of docs), so the
    gram join broadcasts at bench scale and degrades to a hash join at
    cluster scale. The join key is a 60-bit md5-prefix of the gram —
    8 bytes on the wire instead of ~100 chars (the same key-narrowing
    minhash_lsh_pairs uses). md5, not xxhash64: the oracle computes the
    IDENTICAL key (conv/CAST of the same 15 hex chars), so any hash
    collision hits both sides equally and the differential gate can
    never diverge on a collision lottery.
    """
    d = table(spark, sf_dir, "documents")
    # tk bound in its own projection (the interpreted-HOF CSE fix, see
    # text_ngram_novelty): unbound, every gram's slice() re-tokenized the
    # whole document — O(tokens²) per doc.  The md5 key moves INSIDE the
    # array lambda so the explode emits 8-byte longs directly, and
    # explode_outer over the bound array + scalar NULL filter avoids
    # InferFiltersFromGenerate re-evaluating the gram transform.
    toks = d.select(
        "doc_id", _tokens(F.col("text")).alias("tk")
    ).filter(F.size("tk") >= _DECON_N)
    tk = F.col("tk")
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(tk) - F.lit(_DECON_N - 1)),
            lambda i: F.conv(
                F.substring(
                    F.md5(F.array_join(F.slice(tk, i, _DECON_N), " ")), 1, 15
                ),
                16,
                10,
            ).cast("long"),
        )
    )
    g = (
        toks.select("doc_id", grams.alias("gs"))
        .select("doc_id", F.explode_outer("gs").alias("g"))
        .filter(F.col("g").isNotNull())
    )
    train = g.filter(F.col("doc_id") % 50 != 0).select(
        F.col("doc_id").alias("train_doc"), "g"
    )
    bench = g.filter(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("bench_doc"), "g"
    )
    return (
        train.join(bench, "g")
        .groupBy("train_doc", "bench_doc")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_13grams"))
    )


@register(
    "text_idf_filter",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_distinct(list_filter(string_split(text, ' '),
                                              t -> t <> ''))) AS token
      FROM documents
    ),
    df AS (
      SELECT token, count(*) AS df FROM toks GROUP BY token
    ),
    n AS (SELECT count(*) AS n_docs FROM documents)
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_distinct_tokens,
           CAST(sum(CASE WHEN df.df > n.n_docs * 0.5 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_boilerplate,
           FLOOR(sum(CASE WHEN df.df > n.n_docs * 0.5 THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE) * 1000000) / 1000000
             AS boilerplate_frac
    FROM toks t JOIN df ON t.token = df.token CROSS JOIN n
    GROUP BY t.doc_id
    """,
    tags=("llm", "text", "quality"),
)
def text_idf_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-frequency boilerplate profiling: tokens appearing in more
    than half the corpus are boilerplate (navigation chrome, license
    headers, templating); per document, the distinct-token count and the
    boilerplate share. The C4-style cleanup this feeds either drops those
    tokens or drops documents that are mostly boilerplate.

    Plan: distinct tokens per doc (array_distinct before the explode),
    then document frequency as a count-over-window on token — the tok
    rows are distinct (doc, token) pairs, so the token-partition count
    IS df. The earlier groupBy-and-join-back form re-ran the corpus
    explode for the df branch (plans are trees; same flaw fixed in
    text_tfidf/dedup_substring_spans) — the window form tokenizes the
    corpus exactly once, which is the difference that matters at 100 TB.
    The corpus count stays a broadcast scalar from a payload-free
    row-count scan."""
    d = table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.array_distinct(_tokens(F.col("text")))).alias("token")
    )
    n_docs = d.select(F.count(F.lit(1)).alias("n_docs"))
    is_boiler = F.when(
        F.col("df") > F.col("n_docs") * 0.5, 1
    ).otherwise(0)
    boiler = F.sum(is_boiler)
    return (
        tok.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("token")))
        .crossJoin(F.broadcast(n_docs))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_distinct_tokens"),
            boiler.cast("long").alias("n_boilerplate"),
            (
                F.floor(boiler / F.count(F.lit(1)).cast("double") * 1_000_000)
                / 1_000_000
            ).alias("boilerplate_frac"),
        )
    )


# PII scrubbing patterns — shared verbatim between the Spark expressions and
# the DuckDB oracle so both engines run the exact same regexes. The syntax
# subset used (char classes, {m,n}, non-capturing groups, \b) behaves
# identically in Java regex and RE2.
_PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
_PII_IPV4 = "\\b[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}\\b"
_PII_PHONE = "\\+[0-9]{2}-[0-9]{3}-[0-9]{4}"


@register(
    "text_pii_scrub",
    oracle=f"""
    WITH raw AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@mail.example reach +' || CAST(10 + doc_id % 90 AS VARCHAR)
                  || '-' || CAST(100 + doc_id % 900 AS VARCHAR)
                  || '-' || CAST(1000 + doc_id % 9000 AS VARCHAR)
                  || ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
                  || '.0.' || CAST(1 + doc_id % 254 AS VARCHAR) AS raw_text
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(raw_text, '{_PII_EMAIL}')) AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(raw_text, '{_PII_PHONE}')) AS BIGINT) AS n_phone,
           CAST(len(regexp_extract_all(raw_text, '{_PII_IPV4}')) AS BIGINT)  AS n_ip,
           regexp_replace(
             regexp_replace(
               regexp_replace(raw_text, '{_PII_EMAIL}', '<EMAIL>', 'g'),
               '{_PII_PHONE}', '<PHONE>', 'g'),
             '{_PII_IPV4}', '<IP>', 'g') AS scrubbed
    FROM raw
    """,
    tags=("llm", "text"),
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-based PII redaction (emails, phone numbers, IPv4 addresses) with
    per-class match counts — the standard scrub pass a public-web corpus gets
    before LLM training (the CCNet/RedPajama-style cleanup stage).

    The fixture vocabulary contains no PII, so the query first materializes a
    deterministic PII-bearing variant of each document from its own doc_id
    (identically in the oracle) and then scrubs it — the regex path is
    exercised non-vacuously on every row and stays differentially tested.

    Plan: pure per-row regexp projections — whole-stage codegen, no shuffle,
    embarrassingly parallel at any corpus size. Patterns are applied
    email→phone→IP so a replacement token can never be re-matched by a later
    class. At 100 TB this is scan-bound, exactly what a scrub should be.
    """
    d = table(spark, sf_dir, "documents")
    doc = F.col("doc_id")
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"), doc.cast("string"),
        F.lit("@mail.example reach +"), (doc % 90 + 10).cast("string"),
        F.lit("-"), (doc % 900 + 100).cast("string"),
        F.lit("-"), (doc % 9000 + 1000).cast("string"),
        F.lit(" from 10."), (doc % 256).cast("string"),
        F.lit(".0."), (doc % 254 + 1).cast("string"),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(raw, _PII_EMAIL, "<EMAIL>"),
            _PII_PHONE, "<PHONE>"),
        _PII_IPV4, "<IP>")
    return d.select(
        "doc_id",
        F.regexp_count(raw, F.lit(_PII_EMAIL)).cast("long").alias("n_email"),
        F.regexp_count(raw, F.lit(_PII_PHONE)).cast("long").alias("n_phone"),
        F.regexp_count(raw, F.lit(_PII_IPV4)).cast("long").alias("n_ip"),
        scrubbed.alias("scrubbed"),
    )


# Linear quality-classifier weights (a fasttext-style scorer distilled to a
# fixed linear model over cheap signals). Chosen so the fixture population
# spreads across keep/drop; the exact values are part of the op's contract
# and are mirrored verbatim in the oracle.
_QS_W_STOP = 1.5
_QS_W_DISTINCT = 1.0
_QS_W_LEN = 0.05
_QS_LEN_CENTER = 4.5
_QS_KEEP_T = 0.55


@register(
    "text_quality_score",
    oracle=f"""
    WITH feats AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split(text, ' '),
                      t -> t IN ({', '.join(repr(s) for s in _STOPWORDS)}))) AS DOUBLE)
               / GREATEST(len(list_filter(string_split(text, ' '), t -> t <> '')), 1)
               AS stop_r,
             CAST(len(list_distinct(list_filter(string_split(text, ' '), t -> t <> ''))) AS DOUBLE)
               / GREATEST(len(list_filter(string_split(text, ' '), t -> t <> '')), 1)
               AS distinct_r,
             CAST(length(replace(text, ' ', '')) AS DOUBLE)
               / GREATEST(len(list_filter(string_split(text, ' '), t -> t <> '')), 1)
               AS avg_len
      FROM documents
    )
    SELECT doc_id,
           ROUND({_QS_W_STOP} * stop_r + {_QS_W_DISTINCT} * distinct_r
                 - {_QS_W_LEN} * abs(avg_len - {_QS_LEN_CENTER}), 6) AS quality,
           ({_QS_W_STOP} * stop_r + {_QS_W_DISTINCT} * distinct_r
                 - {_QS_W_LEN} * abs(avg_len - {_QS_LEN_CENTER})) >= {_QS_KEEP_T}
             AS keep
    FROM feats
    """,
    tags=("llm", "text"),
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite document quality score: a fixed linear model over the
    cheap signals (stopword ratio, lexical diversity, token-length
    centering) with a keep/drop threshold — the classifier-style filter
    stage (GPT-3/CCNet quality model analog) distilled to a deterministic
    linear scorer so it stays differentially testable.

    The score expression is built with the SAME association order as the
    oracle SQL (left-to-right weighted sum), and every ratio is the same
    int/int division — IEEE doubles come out bit-identical, so keep/drop
    decisions can never straddle the threshold differently across engines.
    Pure projection: scan-bound, no shuffle."""
    d = table(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    n_tok = F.greatest(F.size(toks), F.lit(1)).cast("double")
    stop_r = F.size(F.filter(toks, lambda t: t.isin(*_STOPWORDS))).cast("double") / n_tok
    distinct_r = F.size(F.array_distinct(toks)).cast("double") / n_tok
    avg_len = F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double") / n_tok
    score = (
        F.lit(_QS_W_STOP) * stop_r
        + F.lit(_QS_W_DISTINCT) * distinct_r
        - F.lit(_QS_W_LEN) * F.abs(avg_len - F.lit(_QS_LEN_CENTER))
    )
    return d.select(
        "doc_id",
        F.round(score, 6).alias("quality"),
        (score >= F.lit(_QS_KEEP_T)).alias("keep"),
    )


@register(
    "text_cooccurrence",
    oracle="""
    WITH tok AS (
      SELECT doc_id,
             unnest(arr)                          AS tok,
             unnest(generate_series(1, len(arr))) AS pos
      FROM (SELECT doc_id,
                   list_filter(string_split(text, ' '), t -> t <> '') AS arr
            FROM documents)
    )
    SELECT a.tok AS t1, b.tok AS t2, COUNT(*) AS n_cooc
    FROM tok a
    JOIN tok b ON a.doc_id = b.doc_id AND b.pos - a.pos IN (1, 2)
    GROUP BY t1, t2
    """,
    tags=("llm", "text"),
)
def text_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram co-occurrence counts (window = 2 tokens to the right) —
    the count table behind word2vec/GloVe-style embedding training.

    Shuffle-free pair generation: instead of exploding tokens to rows and
    self-joining on (doc_id, position) — which shuffles O(tokens) rows —
    each offset's (center, context) pairs are ``arrays_zip``s of the
    token array against its own 1- and 2-shifted ``slice`` (an earlier
    positional-``transform`` + ``try_element_at`` form was semantically
    identical but built two candidate structs per token; the slice+zip
    kernel measured 5.3× faster at sf0.1 — 3.27 s → 0.62 s — because the
    shifted views share the parent array instead of re-probing it).
    The zipped pairs explode straight into the count aggregate, so the
    only shuffle is the final groupBy, whose wire volume is
    O(vocab² × partitions) after map-side combine — independent of
    corpus size, the property that matters at 100 TB.  The oracle keeps
    the equivalent (inefficient) relational self-join form.
    """
    d = table(spark, sf_dir, "documents")
    # Token array bound once (interpreted-HOF CSE, see text_ngram_novelty):
    # unbound, the 4 slices + 2 sizes each re-tokenized the document, and
    # the Generate's inferred filter re-evaluated the whole zip tree.
    toks = d.select(_tokens(F.col("text")).alias("tk"))
    arr = F.col("tk")
    n = F.size(arr)
    z1 = F.arrays_zip(
        F.slice(arr, 1, F.greatest(n - 1, F.lit(0))).alias("t1"),
        F.slice(arr, 2, F.greatest(n - 1, F.lit(0))).alias("t2"),
    )
    z2 = F.arrays_zip(
        F.slice(arr, 1, F.greatest(n - 2, F.lit(0))).alias("t1"),
        F.slice(arr, 3, F.greatest(n - 2, F.lit(0))).alias("t2"),
    )
    return (
        toks.select(F.concat(z1, z2).alias("zz"))
        .select(F.explode_outer("zz").alias("p"))
        .filter(F.col("p").isNotNull())
        .select(F.col("p.t1").alias("t1"), F.col("p.t2").alias("t2"))
        .groupBy("t1", "t2")
        .agg(F.count(F.lit(1)).alias("n_cooc"))
    )


@register(
    "text_zipf_fit",
    oracle="""
    WITH tf AS (
      SELECT token, COUNT(*) AS f
      FROM (SELECT unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS token
            FROM documents)
      GROUP BY token
    ),
    ranked AS (
      SELECT f, row_number() OVER (ORDER BY f DESC, token) AS r FROM tf
    )
    SELECT ROUND(regr_slope(ln(f), ln(r)), 6)     AS zipf_slope,
           ROUND(regr_intercept(ln(f), ln(r)), 6) AS zipf_intercept,
           ROUND(regr_r2(ln(f), ln(r)), 6)        AS zipf_r2,
           COUNT(*)                               AS vocab_size
    FROM ranked
    """,
    tags=("llm", "text", "stats"),
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus unigram distribution: OLS slope /
    intercept / R² of ln(frequency) against ln(rank) — the standard
    one-number summary of how natural (vs degenerate or templated) a
    corpus's token distribution is, used as a corpus-level quality gate.

    Two shuffles, both O(vocab): explode → map-side-combined token counts,
    then a rank over the vocab-sized frequency table (a single-partition
    window is fine — vocabularies are ~1e5-1e6 rows regardless of corpus
    bytes, it's the corpus scan that carries the 100 TB).  The regression
    itself is Spark's single-pass mergeable regr_* aggregates.
    """
    d = table(spark, sf_dir, "documents")
    tf = (
        d.select(F.explode(_tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    w = Window.orderBy(F.desc("f"), "token")
    ranked = tf.select("f", F.row_number().over(w).alias("r"))
    lf, lr = F.log(F.col("f").cast("double")), F.log(F.col("r").cast("double"))
    return ranked.agg(
        F.round(F.regr_slope(lf, lr), 6).alias("zipf_slope"),
        F.round(F.regr_intercept(lf, lr), 6).alias("zipf_intercept"),
        F.round(F.regr_r2(lf, lr), 6).alias("zipf_r2"),
        F.count(F.lit(1)).alias("vocab_size"),
    )


@register(
    "text_char_entropy",
    oracle="""
    SELECT doc_id,
           ROUND(entropy(c), 6)     AS char_entropy,
           CAST(COUNT(*) AS BIGINT) AS n_chars_counted
    FROM (SELECT doc_id,
                 unnest(list_filter(string_split_regex(text, ''),
                                    c -> c <> '')) AS c
          FROM documents)
    GROUP BY doc_id
    """,
    tags=("llm", "text"),
)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-level Shannon entropy (bits/char) — the
    classic cheap randomness/quality signal: templated or degenerate text
    sits well below natural prose, encrypted/binary junk well above.

    Computed from per-(doc, char) counts via the identity
    H = log₂n − (Σ cᵢ·log₂cᵢ)/n, so the ONE shuffle carries
    (doc_id, char, count) rows — map-side combine caps the wire at
    O(docs × alphabet), never O(corpus chars).  The oracle uses DuckDB's
    built-in base-2 ``entropy()`` aggregate over the exploded characters:
    two independent formulations agreeing to 6 decimals.
    """
    d = table(spark, sf_dir, "documents")
    # Spark's split('', -1) appends one trailing '' — drop empties so the
    # char multiset matches the oracle's string_split_regex exactly.
    chars = F.filter(F.split(F.col("text"), ""), lambda c: c != "")
    counts = (
        d.select("doc_id", F.explode(chars).alias("c"))
        .groupBy("doc_id", "c")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    n = F.sum("cnt").cast("double")
    ent = F.log2(n) - F.sum(F.col("cnt") * F.log2("cnt")) / n
    return counts.groupBy("doc_id").agg(
        F.round(ent, 6).alias("char_entropy"),
        F.sum("cnt").alias("n_chars_counted"),
    )


@register("text_compression_ratio", oracle=None, tags=("llm", "text"))
def text_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveText-style compression-ratio quality signal:
    zlib(deflate, level 6) bytes over raw utf-8 bytes per document.
    Highly repetitive/boilerplate text compresses far below natural
    prose; random junk refuses to compress — both tails get filtered.

    ⊘ rows-only at the driver gate (no DEFLATE in SQL); the kernel's
    ordering properties (repetitive ≪ natural ≪ incompressible) and
    bounds are pinned in tests/test_llm_ops.py.

    Scale shape: one narrow Arrow-batched pandas UDF pass — compression
    is per-row CPU work that parallelizes embarrassingly; no shuffle.
    The Python-side cost is the honest price of DEFLATE; at 100 TB this
    op is compute-bound either way and the Arrow batching amortizes the
    interpreter boundary to noise.
    """
    import zlib

    d = table(spark, sf_dir, "documents")

    @F.pandas_udf("long")
    def _zbytes(texts: pd.Series) -> pd.Series:
        return texts.map(
            lambda t: None if t is None else len(zlib.compress(t.encode("utf-8"), 6))
        )

    raw = F.length(F.encode(F.col("text"), "utf-8")).cast("long")
    return d.select(
        "doc_id",
        raw.alias("n_raw_bytes"),
        _zbytes(F.col("text")).alias("n_compressed_bytes"),
    ).withColumn(
        # try_divide: a zero-byte document has no defined ratio (NULL),
        # and ANSI mode errors on bare /0.
        "compression_ratio",
        F.round(F.try_divide("n_compressed_bytes", "n_raw_bytes"), 6),
    )


@register(
    "text_ngram_novelty",
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS tk
      FROM documents
    ),
    grams AS (
      SELECT DISTINCT doc_id,
             CAST(concat('0x', substr(md5(
               unnest(list_transform(range(1, len(tk) - 1),
                      i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2]))
             ), 1, 15)) AS BIGINT) AS gram
      FROM toks WHERE len(tk) >= 3
    ),
    firsts AS (
      SELECT doc_id, gram,
             MIN(doc_id) OVER (PARTITION BY gram) AS first_doc
      FROM grams
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT)                          AS n_grams,
           CAST(COUNT(*) FILTER (WHERE first_doc = doc_id)
                AS BIGINT)                                   AS n_novel,
           ROUND(COUNT(*) FILTER (WHERE first_doc = doc_id)
                 / CAST(COUNT(*) AS DOUBLE), 6)              AS novelty
    FROM firsts
    GROUP BY doc_id
    """,
    tags=("llm", "text", "ngram"),
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 3-gram novelty: the fraction of a document's distinct
    trigrams whose FIRST corpus occurrence (lowest doc_id — ingestion
    order) is this document. The curation-side diversity signal: late
    near-copies and template spam score near 0, genuinely new content
    near 1 — the per-document view of what line/span dedup removes.

    One tokenize pass: distinct (doc, gram) rows → a window-min over the
    gram partitioning stamps each gram's first doc → per-doc aggregate.
    The shuffle carries distinct doc-gram PAIRS (the explode collapses
    map-side), and the same gram partitioning serves both the window and
    nothing else — no join-back, no second corpus scan.  The gram key is
    a 60-bit md5-prefix (8 bytes on the wire instead of ~30 chars — the
    100 TB form text_decontaminate already uses); the hash is applied
    INSIDE the array before array_distinct and the oracle computes the
    IDENTICAL key, so a collision merges the same two grams on both
    sides and the differential gate can never diverge on a collision
    lottery.  (Production swap: xxhash64 on the gram string, one fewer
    string pass — documented, kept md5 for oracle parity.)
    """
    d = table(spark, sf_dir, "documents")
    # Bind the token array in its OWN projection before any per-gram
    # lambda references it.  Catalyst inlines the split expression into
    # every element_at closure otherwise, and interpreted higher-order
    # functions (HOFs never enter whole-stage codegen) do no common-
    # subexpression elimination — each gram was re-tokenizing the whole
    # document, O(tokens²) per doc.  Binding tk measured 4.6 s → 0.64 s
    # at sf0.1 (identical results).  explode_outer over the BOUND array
    # column + a scalar NULL filter keeps Generate from re-evaluating
    # the gram construction (InferFiltersFromGenerate duplicates the
    # generator expression into a size()>0 filter for plain explode).
    toks = d.select("doc_id", _tokens(F.col("text")).alias("tk"))
    tk = F.col("tk")
    trigrams = F.when(F.size(tk) < 3, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.size(tk) - 3),
            lambda i: F.concat_ws(
                " ",
                F.element_at(tk, i + 1),
                F.element_at(tk, i + 2),
                F.element_at(tk, i + 3),
            ),
        )
    )
    gram_keys = F.array_distinct(
        F.transform(
            trigrams,
            lambda g: F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("long"),
        )
    )
    grams = (
        toks.select("doc_id", gram_keys.alias("gk"))
        .select("doc_id", F.explode_outer("gk").alias("gram"))
        .filter(F.col("gram").isNotNull())
    )
    first_doc = F.min("doc_id").over(Window.partitionBy("gram"))
    novel = F.sum(F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0))
    return (
        grams.withColumn("first_doc", first_doc)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            novel.alias("n_novel"),
            F.round(novel / F.count(F.lit(1)).cast("double"), 6).alias("novelty"),
        )
    )


N_FEATURES = 1024  # hashing-trick feature-space width


@register(
    "text_hashing_vectorizer",
    oracle=f"""
    SELECT doc_id,
           CAST(CAST(('0x' || substring(md5(t), 1, 15)) AS BIGINT)
                % {N_FEATURES} AS BIGINT)  AS feature,
           CAST(COUNT(*) AS BIGINT)        AS tf
    FROM (
      SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS t
      FROM documents
    )
    GROUP BY doc_id, feature
    """,
    tags=("llm", "text"),
)
def text_hashing_vectorizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick bag-of-words features (HashingVectorizer /
    HashingTF): each token is hashed into a FIXED feature space of
    N_FEATURES buckets and term frequencies are counted per (doc,
    bucket) — the stateless featurization stage for quality classifiers
    and fastText-style filters over a training corpus.  Stateless is the
    100 TB point: unlike text_tfidf's vocabulary, there is no fitted
    dictionary to build, broadcast, or version — any executor can
    featurize any shard independently, and collisions are part of the
    contract (mirrored exactly in the oracle, which buckets through the
    identical md5→60-bit→mod pipeline).

    Plan: explode tokens map-side, ONE partially-aggregated shuffle on
    (doc_id, feature) — combiner-bounded like every hash groupBy.  The
    token hash is the engine-portable 60-bit md5 prefix (fn_hash /
    dedup family spelling), non-negative, so Spark's % and DuckDB's %
    agree without pmod gymnastics.
    """
    d = table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(_tokens(F.col("text"))).alias("t"))
    feat = (
        F.conv(F.substring(F.md5("t"), 1, 15), 16, 10)
        .cast("long") % N_FEATURES
    )
    return tok.select("doc_id", feat.alias("feature")).groupBy(
        "doc_id", "feature"
    ).agg(F.count(F.lit(1)).alias("tf"))


_SOURCE_OVERLAP_ORACLE = """
    WITH st AS (
        SELECT DISTINCT source, tok
        FROM (
            SELECT source,
                   unnest(list_distinct(
                       list_filter(string_split(text, ' '), t -> t <> ''))) AS tok
            FROM documents
        )
    ),
    sizes AS (SELECT source, count(*) AS n FROM st GROUP BY 1),
    inter AS (
        SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_common
        FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT i.source_a, i.source_b,
           sa.n AS n_tokens_a, sb.n AS n_tokens_b, i.n_common,
           ROUND(CAST(i.n_common AS DOUBLE)
                 / (sa.n + sb.n - i.n_common), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.source = i.source_a
    JOIN sizes sb ON sb.source = i.source_b
"""


@register("text_source_overlap", oracle=_SOURCE_OVERLAP_ORACLE, tags=("llm", "text"))
def text_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-composition diagnostics: exact pairwise vocabulary Jaccard
    between every pair of SOURCES — the "which crawls overlap / which
    dump is redundant" question asked before mixing corpora into a
    training run (the source-level twin of doc-level dedup).

    Inverted-index plan, never source×source on the raw data: distinct
    (source, token) postings, self-joined on the token. A token appearing
    in df sources contributes C(df, 2) rows with df bounded by the NUMBER
    OF SOURCES — so the join output is at most C(n_sources, 2) × vocab
    regardless of corpus row count, and the whole thing scales with the
    token dictionary, not the document count. Per-doc array_distinct
    before the explode keeps the exploded relation at distinct-tokens-
    per-doc, and the (source, tok) distinct collapses it to the posting
    list before the pair join."""
    d = table(spark, sf_dir, "documents")
    st = (
        d.select("source", F.explode(F.array_distinct(_tokens(F.col("text")))).alias("tok"))
        .distinct()
    )
    sizes = st.groupBy("source").agg(F.count("*").alias("n"))
    a = st.select(F.col("source").alias("source_a"), "tok")
    b = st.select(F.col("source").alias("source_b"), "tok")
    inter = (
        a.join(b, (a["tok"] == b["tok"]) & (F.col("source_a") < F.col("source_b")))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("source").alias("source_a"), F.col("n").alias("n_tokens_a"))
    sb = sizes.select(F.col("source").alias("source_b"), F.col("n").alias("n_tokens_b"))
    return (
        inter.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_tokens_a",
            "n_tokens_b",
            "n_common",
            F.round(
                F.col("n_common")
                / (F.col("n_tokens_a") + F.col("n_tokens_b") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
    )
