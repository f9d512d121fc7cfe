"""Corpus-curation operators an LLM training-data pipeline runs after the
text-analysis pass: PII redaction, benchmark decontamination, TF-IDF
keyword extraction, and the fused Gopher/C4 quality gate. Column expressions (whole-stage codegen), except TF-IDF's
term counts, a per-document text kernel (operators/doc_kernel.py). Each
is graded with an exact DuckDB oracle, at the gate in driver_queries.py
or in tests/.

Regex dialect note (shared with textstats/html): every pattern stays in
the common Java-regex / RE2 subset — character classes, bounded
quantifiers, ``\\b`` word boundaries, no backreferences or lookaround —
so Spark and the DuckDB oracle match identically on ASCII text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# PII patterns, applied in this order (emails first: their local parts can
# contain digits and dots that the later numeric patterns must not see).
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\b\d{3}-\d{3}-\d{4}\b"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def pii_redact(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, n_emails, n_phones, n_ipv4, redacted): count and mask the
    three highest-frequency PII shapes (the C4/Dolma-style scrub pass that
    precedes publication of any web-scale corpus). Counting happens on the
    raw text; masking is a fixed email -> phone -> ipv4 cascade so the
    numeric patterns never fire inside an address already masked.

    Pure per-row projection — no shuffle at all, so the plan is identical
    at any scale; the regexes stay in the Java/RE2 common subset (module
    header) for oracle parity."""
    t = F.col(text_col)
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, PII_EMAIL, "<EMAIL>"),
            PII_PHONE,
            "<PHONE>",
        ),
        PII_IPV4,
        "<IP>",
    )
    return docs.select(
        "doc_id",
        F.regexp_count(t, F.lit(PII_EMAIL)).cast("bigint").alias("n_emails"),
        F.regexp_count(t, F.lit(PII_PHONE)).cast("bigint").alias("n_phones"),
        F.regexp_count(t, F.lit(PII_IPV4)).cast("bigint").alias("n_ipv4"),
        redacted.alias("redacted"),
    )


def repair_mojibake(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(…, repaired, was_repaired): undo UTF-8-read-as-cp1252 mojibake
    (functions/mojibake.py) — the encoding-repair pass that sits between
    charset-sniffed body decode and quality filtering in a crawl
    pipeline. Conservative: a row is rewritten only when its non-ASCII
    content parses EXACTLY as UTF-8 bytes through the cp1252 display
    map; clean accented/CJK text can never validate, so it passes
    through byte-identical.

    Pure per-row projection (translate + two rlike + encode/decode) —
    no shuffle, no UDF; the plan is a map at any scale."""
    from granulate_char_ocr_spark.functions.mojibake import (
        fix_mojibake_expr,
        is_mojibake_expr,
    )

    t = F.col(text_col)
    keep = [c for c in docs.columns if c != text_col]
    return docs.select(
        *keep,
        fix_mojibake_expr(t).alias("repaired"),
        is_mojibake_expr(t).alias("was_repaired"),
    )


def _distinct_word_grams(docs: DataFrame, n: int) -> DataFrame:
    """(doc_id, g): each doc's DISTINCT space-joined word n-grams —
    dedup.shingles is exactly this extraction (same tokenization, in-row
    distinct), reused so gram semantics live in one place."""
    from granulate_char_ocr_spark.operators import dedup

    return dedup.shingles(docs, n).withColumnRenamed("shingle", "g")


def decontaminate(
    corpus: DataFrame, benchmark: DataFrame, n: int = 3
) -> DataFrame:
    """(doc_id, n_shared_grams, contaminated): for every corpus document,
    how many of its distinct word n-grams also occur anywhere in the
    benchmark set — the GPT-3-style eval-decontamination test (Brown et
    al. 2020 §C use 13-grams; n is a parameter because real corpora pick
    8-13 while the tiny synthetic vocab here needs n=3 to produce hits).

    Scale shape: the benchmark gram set is small by construction (eval
    suites are KB-MB against a TB corpus), so it broadcasts; the corpus
    side is one explode feeding a broadcast-hash semi-style join and a
    doc_id-keyed count — no shuffle of corpus text, no all-pairs."""
    bench_grams = _distinct_word_grams(benchmark, n).select("g").distinct()
    hits = (
        _distinct_word_grams(corpus, n)
        .join(F.broadcast(bench_grams), "g")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared_grams"))
    )
    return (
        corpus.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shared_grams", F.lit(0)).alias("n_shared_grams"),
            F.when(F.col("n_shared_grams").isNotNull(), 1)
            .otherwise(0)
            .alias("contaminated"),
        )
    )


def _chunk_lines_col(words_per_line: int):
    """lines Column over a frame carrying ``text`` and ``_toks``
    (= split(text, ' ')): deterministic fixed-width word chunks standing
    in for newline-delimited lines (the driver corpus is single-line word
    soup; real corpora split on '\\n' instead — only this helper
    changes). The final chunk may be short; null/empty text gets an
    empty array (split('') would otherwise yield [''])."""
    w = words_per_line
    chunks = (
        f"transform(sequence(0, greatest(cast(ceil(size(_toks) / {w}.0) "
        f"as int) - 1, 0)), i -> array_join(slice(_toks, i * {w} + 1, {w}), ' '))"
    )
    t = F.col("text")
    return (
        F.when(t.isNull() | (t == ""), F.array().cast("array<string>"))
        .otherwise(F.expr(chunks))
    )


def gopher_line_cols() -> dict:
    """name -> Column of the two line-level Gopher signals over a
    ``lines`` column (Rae et al. 2021 §A1.1: reject documents with > 90%
    of lines starting with a bullet or > 30% ending with an ellipsis)."""
    bullet = F.filter(
        F.col("lines"), lambda l: l.rlike(r"^\s*[-*•‣▪]")
    )
    ellipsis = F.filter(
        F.col("lines"), lambda l: l.rlike(r"(\.\.\.|…)\s*$")
    )
    n = F.greatest(F.size("lines"), F.lit(1))
    return {
        "n_lines": F.size("lines"),
        "frac_bullet_lines": F.round(F.size(bullet) / n, 6),
        "frac_ellipsis_lines": F.round(F.size(ellipsis) / n, 6),
    }


def line_pass_col():
    """Line-level Gopher pass flag over gopher_line_cols' outputs."""
    return (F.col("frac_bullet_lines") <= 0.9) & (
        F.col("frac_ellipsis_lines") <= 0.3
    )


def c4_cols(min_words: int = 3) -> dict:
    """name -> Column of the C4 line-keep signals over a ``lines`` column
    (Raffel et al. 2020 §2.2: keep only lines that end in terminal
    punctuation AND have >= ``min_words`` words; flag 'lorem ipsum' and
    curly braces). n_lines is gopher_line_cols' — the two families share
    it when fused."""
    kept = F.filter(
        F.col("lines"),
        lambda l: l.rlike('[.!?"”]\\s*$')
        & (F.size(F.split(F.trim(l), " ")) >= min_words),
    )
    joined = F.lower(F.array_join("lines", " "))
    return {
        "n_kept": F.size(kept),
        "clean_text": F.array_join(kept, " "),
        "has_lorem": joined.contains("lorem ipsum"),
        "has_brace": joined.contains("{"),
    }


def c4_pass_col(min_kept_lines: int = 3):
    """C4 pass flag over c4_cols' outputs."""
    return (
        (F.col("n_kept") >= min_kept_lines)
        & ~F.col("has_lorem")
        & ~F.col("has_brace")
    )


def quality_filter(
    docs: DataFrame,
    words_per_line: int = 8,
    min_words: int = 3,
    min_kept_lines: int = 3,
) -> DataFrame:
    """One-pass per-document quality gate: the doc-level Gopher rules,
    the line-level Gopher rules, and the C4 line filter FUSED into a
    single projection chain over one scan — no self-join on doc_id, no
    shuffle, no UDF (the naive compose of the three operators would
    re-scan and shuffle-join the corpus twice). Output: doc_id, the five
    gopher_doc_cols + gopher_pass, the three gopher_line_cols +
    line_pass, the four c4_cols + c4_pass."""
    from granulate_char_ocr_spark.operators.textstats import (
        gopher_doc_cols,
        gopher_pass_col,
    )

    base = docs.select(
        "doc_id", "text", F.split("text", " ").alias("_toks")
    ).select(
        "doc_id",
        "text",
        _chunk_lines_col(words_per_line).alias("lines"),
    )
    out = base.select(
        "doc_id",
        *(c.alias(n) for n, c in gopher_doc_cols().items()),
        *(c.alias(n) for n, c in gopher_line_cols().items()),
        *(c.alias(n) for n, c in c4_cols(min_words).items()),
    )
    return (
        out.withColumn("gopher_pass", gopher_pass_col())
        .withColumn("line_pass", line_pass_col())
        .withColumn("c4_pass", c4_pass_col(min_kept_lines))
    )


def _tf_kernel(docs: DataFrame) -> DataFrame:
    """(doc_id, term, tf): per-document term counts computed in-row
    (Counter per doc; empty terms dropped, mirroring the explode's
    ``term != ''`` filter). Integer counts — identical rows to the
    explode + groupBy formulation (tests/reference_twins.py:_tf_expr)."""
    from collections import Counter

    from granulate_char_ocr_spark.operators.doc_kernel import doc_kernel

    def per_doc(text, h):
        c = Counter(text.split(" "))
        c.pop("", None)
        return c.keys(), c.values()

    return doc_kernel(docs, per_doc, "term string, tf bigint")


def tfidf_top_terms(docs: DataFrame, k: int = 5) -> DataFrame:
    """(doc_id, term, tf, df, score, rnk): each document's top-k keyword
    terms by tf/df — rank-equivalent to tf-idf for ANY strictly
    decreasing idf(df), but exactly orderable across engines: two small-
    integer ratios tf1/df1 vs tf2/df2 differ by at least 1/(df1*df2)
    when they differ at all, far above double epsilon, so the float
    ORDER BY is deterministic and identical in Spark and DuckDB (no
    transcendental log in the sort key). Ties break on term asc.

    Scale shape: one explode, a (doc_id, term) partial-aggregated count,
    a document-frequency rollup whose output is vocabulary-sized (small
    -> broadcast back), and a per-doc top-k window. The corpus never
    self-joins.

    r6 execution (guide §4.2 / §2.3 "aggregate before you shuffle"): the
    (doc_id, term, tf) table is computed IN-ROW by an Arrow kernel (one
    Counter per document) instead of exploding every token occurrence
    (~2.7M rows at sf1.0) through a hash-aggregate exchange — term
    counts are integers, so the rows are identical to the explode+agg
    formulation (tests/reference_twins.py:_tf_expr, parity-pinned by
    tests/test_curation.py). The one in-query eager checkpoint stops
    the df branch from re-running the kernel (recomputed from parquet
    every invocation; nothing persists across runs)."""
    tf = _tf_kernel(docs).localCheckpoint(eager=True)
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    w = Window.partitionBy("doc_id").orderBy(
        F.desc(F.col("tf") / F.col("df")), F.asc("term")
    )
    return (
        tf.join(F.broadcast(df_), "term")
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.round(F.col("tf") / F.col("df"), 6).alias("score"),
            "rnk",
        )
    )
