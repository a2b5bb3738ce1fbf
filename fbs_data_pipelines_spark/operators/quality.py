"""Corpus-quality heuristics for LLM training-data pipelines.

Beyond-reference surface: the document-level quality rules a 100 TB
pretraining pipeline filters on, in the style of the published Gopher
rules (Rae et al. 2021, "Scaling Language Models: Methods, Analysis &
Insights from Training Gopher", App. A) and the repetition heuristics
from the same line of work — re-derived here as pure Spark column
expressions.

Scale design:
- ``gopher_quality_flags`` and the line/word repetition fractions are
  ZERO-SHUFFLE narrow maps (higher-order array functions over the
  per-doc token/line arrays; whole-stage codegen'd).
- ``top_ngram_stats`` needs per-(doc, gram) counts — that is one
  explode + one map-side-combined groupBy (partial aggregation), the
  standard distributed shape; gram cardinality per doc is bounded by
  doc length so no skew beyond document length skew itself.

Determinism: fractions are rounded half-up at 6dp at the output edge
so the DuckDB oracle reproduces every value bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fbs_data_pipelines_spark.functions.cleaning import round_half_up
from fbs_data_pipelines_spark.functions.text import tokens, word_shingles_arr
from fbs_data_pipelines_spark.operators.partitioning import ensure_parallelism

#: Gopher-style acceptance bounds (public heuristics; tune per corpus)
GOPHER_BOUNDS = {
    "min_words": 50,
    "max_words": 100_000,
    "min_mean_word_len": 3.0,
    "max_mean_word_len": 10.0,
    "max_symbol_word_ratio": 0.1,
    "max_bullet_line_frac": 0.9,
    "max_ellipsis_line_frac": 0.3,
    "min_alpha_word_frac": 0.8,
    "min_stopword_hits": 2,
}

#: the Gopher stopword-presence probe set
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def _lines(c: Column) -> Column:
    return F.split(c, "\n")


def gopher_quality_flags(
    df: DataFrame, id_col: str, text_col: str, bounds: dict | None = None
) -> DataFrame:
    """Per-document Gopher-rule metrics + the combined pass flag.

    Emits (id, n_words, mean_word_len, symbol_word_ratio,
    bullet_line_frac, ellipsis_line_frac, alpha_word_frac,
    stopword_hits, gopher_pass). Zero shuffle: every metric folds the
    per-doc word/line arrays JVM-side.
    """
    b = {**GOPHER_BOUNDS, **(bounds or {})}
    # heavy per-row regex/array folds: spread single-row-group local
    # inputs over the cluster (no-op at real scale — plan-time check)
    df = ensure_parallelism(df)
    text = F.col(text_col)
    words = F.filter(tokens(text), lambda t: t != "")
    n_words = F.size(words).cast("long")
    mean_wl = F.aggregate(
        words, F.lit(0.0), lambda a, w: a + F.length(w)
    ) / F.greatest(n_words, F.lit(1))
    # '#' occurrences + '...'/'…' occurrences per word
    n_symbols = (
        F.length(text)
        - F.length(F.regexp_replace(text, r"#", ""))
        + F.regexp_count(text, F.lit(r"\.\.\.|…")).cast("long")
    )
    symbol_ratio = n_symbols / F.greatest(n_words, F.lit(1))
    lines = F.filter(_lines(text), lambda ln: F.trim(ln) != "")
    n_lines = F.greatest(F.size(lines), F.lit(1))
    bullet_frac = (
        F.size(
            F.filter(
                lines, lambda ln: F.trim(ln).rlike(r"^[-*•●▪]")
            )
        )
        / n_lines
    )
    ellipsis_frac = (
        F.size(F.filter(lines, lambda ln: F.trim(ln).rlike(r"(\.\.\.|…)$")))
        / n_lines
    )
    alpha_frac = F.size(
        F.filter(words, lambda w: w.rlike("[a-z]"))
    ) / F.greatest(n_words, F.lit(1))
    sw = F.lit(list(GOPHER_STOPWORDS))
    sw_hits = F.size(
        F.filter(sw, lambda s: F.array_contains(words, s))
    ).cast("long")

    passes = (
        (n_words >= b["min_words"])
        & (n_words <= b["max_words"])
        & (mean_wl >= b["min_mean_word_len"])
        & (mean_wl <= b["max_mean_word_len"])
        & (symbol_ratio <= b["max_symbol_word_ratio"])
        & (bullet_frac <= b["max_bullet_line_frac"])
        & (ellipsis_frac <= b["max_ellipsis_line_frac"])
        & (alpha_frac >= b["min_alpha_word_frac"])
        & (sw_hits >= b["min_stopword_hits"])
    )
    return df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        round_half_up(mean_wl, 6).alias("mean_word_len"),
        round_half_up(symbol_ratio, 6).alias("symbol_word_ratio"),
        round_half_up(bullet_frac, 6).alias("bullet_line_frac"),
        round_half_up(ellipsis_frac, 6).alias("ellipsis_line_frac"),
        round_half_up(alpha_frac, 6).alias("alpha_word_frac"),
        sw_hits.alias("stopword_hits"),
        passes.alias("gopher_pass"),
    )


def repetition_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Duplicate-content fractions per document (the repetition side of
    the Gopher rules): duplicate-line fraction and duplicate-word
    fraction, both zero-shuffle array folds.

    dup_*_frac = 1 - |distinct units| / |units| (0 when no units).
    """
    df = ensure_parallelism(df)
    text = F.col(text_col)
    words = F.filter(tokens(text), lambda t: t != "")
    lines = F.filter(
        F.transform(_lines(text), lambda ln: F.trim(ln)), lambda ln: ln != ""
    )

    def dup_frac(arr: Column) -> Column:
        n = F.size(arr)
        return F.when(n <= 0, F.lit(0.0)).otherwise(
            1.0 - F.size(F.array_distinct(arr)) / n
        )

    return df.select(
        F.col(id_col),
        F.size(lines).cast("long").alias("n_lines"),
        round_half_up(dup_frac(lines), 6).alias("dup_line_frac"),
        F.size(words).cast("long").alias("n_words"),
        round_half_up(dup_frac(words), 6).alias("dup_word_frac"),
    )


def _doc_ngrams(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, __grams): each document's word n-grams over its non-empty
    tokens, projected once per document — the rule both n-gram
    operators and their SQL oracles mirror; < n words → empty array."""
    words = F.filter(tokens(F.col(text_col)), lambda t: t != "")
    staged = df.select(F.col(id_col), words.alias("__w"))
    grams = F.col("__w") if n == 1 else word_shingles_arr("__w", n)
    return staged.select(F.col(id_col), grams.alias("__grams"))


def top_ngram_stats(
    df: DataFrame, id_col: str, text_col: str, n: int = 2
) -> DataFrame:
    """Fraction of the document covered by its single most frequent
    word n-gram (ties → lexicographically smallest gram). High values
    mean templated/repeated content.

    One explode + one map-side-combined groupBy + one per-doc max —
    the partial-aggregable distributed shape; at 100 TB the shuffle
    carries (doc_id, gram, count) partials only.
    Emits (id, top_gram, top_gram_count, n_grams, top_gram_frac).
    """
    exploded = _doc_ngrams(ensure_parallelism(df), id_col, text_col, n).select(
        F.col(id_col), F.explode("__grams").alias("gram")
    )
    counts = exploded.groupBy(id_col, "gram").agg(
        F.count("*").alias("cnt")
    )
    # min_by over struct(-cnt, gram): max count, then lexicographically
    # smallest gram — a deterministic tie-break both engines reproduce
    per_doc = counts.groupBy(id_col).agg(
        F.min_by(
            F.col("gram"),
            F.struct((-F.col("cnt")).alias("nc"), F.col("gram").alias("g")),
        ).alias("top_gram"),
        F.max("cnt").alias("top_gram_count"),
        F.sum("cnt").alias("n_grams"),
    )
    return per_doc.select(
        F.col(id_col),
        "top_gram",
        F.col("top_gram_count").cast("long").alias("top_gram_count"),
        F.col("n_grams").cast("long").alias("n_grams"),
        round_half_up(F.col("top_gram_count") / F.col("n_grams"), 6).alias(
            "top_gram_frac"
        ),
    )


def boilerplate_ngram_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    min_doc_frac: float = 0.1,
) -> DataFrame:
    """Corpus-level boilerplate detection: flag word n-grams that occur
    in ≥ ``min_doc_frac`` of documents (headers, footers, templated
    phrases — CCNet/RefinedWeb-style boilerplate pruning works on
    exactly this signal) and score each document by the fraction of
    its DISTINCT n-grams that are boilerplate.

    Emits (id, n_distinct_grams, n_boiler_grams, boiler_frac).

    Scale shape (100 TB): per-doc grams are de-duplicated ARRAY-side
    (``array_distinct``, zero shuffle) before exploding, so the
    doc-frequency aggregation shuffles one row per (doc, distinct
    gram) with map-side combine; its output is vocabulary-sized. The
    boilerplate vocabulary is provably bounded — at most
    (avg distinct grams per doc) / min_doc_frac entries by a counting
    argument — so the join back is a broadcast, never a shuffle of
    the corpus. Total: 2 map-side-combined shuffles, 1 broadcast.
    """
    df = ensure_parallelism(df)
    doc_grams = _doc_ngrams(df, id_col, text_col, n).select(
        F.col(id_col), F.explode(F.array_distinct("__grams")).alias("gram")
    )
    n_docs = df.select(F.count("*").alias("__n_docs"))
    gram_df = (
        doc_grams.groupBy("gram")
        .agg(F.count("*").alias("gram_docs"))
        .crossJoin(F.broadcast(n_docs))
        .filter(
            F.col("gram_docs")
            >= F.ceil(F.lit(float(min_doc_frac)) * F.col("__n_docs"))
        )
        .select("gram")
    )
    flagged = doc_grams.join(
        F.broadcast(gram_df.withColumn("__boiler", F.lit(1))), "gram", "left"
    )
    out = flagged.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_distinct_grams"),
        F.coalesce(F.sum("__boiler"), F.lit(0)).cast("long").alias(
            "n_boiler_grams"
        ),
    )
    return out.select(
        F.col(id_col),
        "n_distinct_grams",
        "n_boiler_grams",
        round_half_up(
            F.col("n_boiler_grams") / F.col("n_distinct_grams"), 6
        ).alias("boiler_frac"),
    )
