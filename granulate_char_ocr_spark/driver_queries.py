"""Driver-contract query surface: one (Spark callable, DuckDB oracle SQL)
pair per operator family from SURVEY.md §2, over the driver test tables at
``/root/testdata/sf*`` plus the repo's own OCR corpus.

Conventions that keep the value-hash comparison stable across engines:
* every aggregate/computed column is aliased identically on both sides;
* raw parquet doubles pass through UNROUNDED (bit-identical from the scan);
  aggregated doubles are rounded (2dp for big price sums, 4-6dp for avgs);
* top-k rankings order by (rounded measure, unique key) so ties cannot
  reorder between engines;
* hashing is md5 (bit-identical in Spark and DuckDB); bit ops are plain
  ``>> & ^ bit_count``.
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from granulate_char_ocr_spark.operators import (
    curation,
    dedup,
    similarity,
    textstats,
)

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

# Oracles whose golden parquet is pinned to the DRIVER'S compare tier
# (sf0.01 → the 800-doc corpus): the Spark side scales with sf_dir but the
# static SQL cannot, so comparing these at any other tier is a false
# mismatch. tools/check_oracles.py downgrades them to rows-only checks off
# the sf0.01 tier; the external driver only ever compares at sf0.01.
SF_PINNED_ORACLES = frozenset(
    {
        "ocr_extract_documents",
        "ocr_extract_salted",
        "ocr_extract_compressed",
        "ocr_eval_metrics",
        "ocr_word_length_analysis",
        "ocr_method_histogram",
        "ocr_result_json_roundtrip",
        "ocr_extract_noisy",
        "ocr_extract_multirow",
        "bpe_token_count_docs",  # n_bpe_merged golden is the sf0.01 twin
    }
)
ORACLE_SF_NAME = "sf0.01"


def sf_name_of(sf_dir: str) -> str:
    """Canonical tier name of an sf directory (basename — the one parse
    shared by _ocr_corpus and tools/check_oracles.py)."""
    return sf_dir.rstrip("/").rsplit("/", 1)[-1]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _tw(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Widened table scan for queries whose pre-exchange stage does heavy
    per-row work: the driver's single-row-group parquet scans as ONE task,
    serializing regex/markup/scoring stages on one core (the CLAUDE.md
    narrow-scan gotcha; guide §2.5 input skew). widen_narrow_scan is a
    no-op whenever the scan already has >= cores partitions — i.e. at any
    real corpus size. Applied per-query from the r6 A/B (sf1.0, min-of-3
    noop): charlm 36.7->4.7 s, repetition 18.0->5.3 s, markdown 7.0->0.8,
    quality 6.9->0.9, html_main 5.5->0.8, html_table 4.6->0.9, page_meta
    2.8->0.7, lang_id 2.5->0.7, link_graph 2.1->1.3, mojibake 1.7->0.4,
    tfidf 3.0->2.7, clean_manifest 3.1->2.2. NOT applied where the A/B
    showed the extra exchange losing (pagerank's iterative supersteps,
    warc_extract, crawl_diff/schedule, robots, bpe).
    """
    from granulate_char_ocr_spark.operators.skew import widen_narrow_scan

    return widen_narrow_scan(_t(spark, sf_dir, name))


def q(name: str, sql: str | None):
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if sql is not None:
            ORACLES[name] = sql
        return fn

    return deco


# =============================================================================
# A. relational core (TPC-H-ish) — SURVEY §2.2-§2.7 operator families
# =============================================================================


@q(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(avg(l_discount), 6) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2024-11-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark, sf_dir):
    """Hash-aggregate with partial (map-side) combine — SURVEY §2.4 A5/A6."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2024-11-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@q(
    "q3_top_revenue_orders",
    """
    SELECT o.o_orderkey AS orderkey,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           count(*) AS n_lines
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY 1 ORDER BY revenue DESC, orderkey LIMIT 10
    """,
)
def q3_top_revenue_orders(spark, sf_dir):
    """Broadcast dim join + top-k (SURVEY §2.3 J2, §2.6 O3). customer is the
    small side → explicit broadcast; lineitem-orders is the fact join.

    r6 (guide §3.2 "reduce the big side before shuffling it"): the join
    order is rotated so the selective dimension filter reaches the fact
    scan FIRST — orders is semi-reduced by the BUILDING customers (~1/5
    of orderkeys survive) and only that orderkey set meets lineitem, so
    the broadcast carries ~20% of orders instead of all of them and 80%
    of lineitem rows die at the probe instead of flowing into the
    aggregate. Inner equi-joins commute: same rows, same oracle."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    bo = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select("o_orderkey")
    return (
        li.join(F.broadcast(bo), li.l_orderkey == bo.o_orderkey)
        .groupBy(F.col("o_orderkey").alias("orderkey"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
        .orderBy(F.desc("revenue"), F.asc("orderkey"))
        .limit(10)
    )


# (sessionize_events rotated BACK into the gate window in r5 — the W1
# family's freshest ⊕ row was two rounds old, the rotation-policy
# trigger written into PARITY.md; it had left in r4 for
# web_corpus_manifest. The parity twin
# tests/test_crawl.py::test_sessionize_events stays.)
SESSIONIZE_ORACLE = """
    WITH d AS (
      SELECT user_id, epoch_ms(ts) AS ms,
             lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ms
      FROM events)
    SELECT user_id,
           CAST(sum(CASE WHEN prev_ms IS NULL OR ms - prev_ms > 1800000 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
           count(*) AS n_events
    FROM d GROUP BY user_id
    """


@q("sessionize_events", SESSIONIZE_ORACLE)
def sessionize_events(spark, sf_dir):
    """Gaps-and-islands sessionization — the reference's run-length
    segmentation scan re-expressed relationally (SURVEY §2.5 W1/W4)."""
    ev = _t(spark, sf_dir, "events").withColumn("ms", F.unix_millis(F.col("ts").cast("timestamp")))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("prev_ms", F.lag("ms").over(w))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(
                    F.col("prev_ms").isNull()
                    | (F.col("ms") - F.col("prev_ms") > 1800000),
                    1,
                ).otherwise(0)
            ).alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
    )


# (confusion_matrix_docs rotated BACK into the gate window in r5 per
# the PARITY.md policy — the A8 family's freshest ⊕ row was two rounds
# old; it had left in r4 for robots_filter_docs. The parity twin
# tests/test_crawl.py::test_confusion_matrix_docs stays.)
CONFUSION_MATRIX_ORACLE = (
    "SELECT lang, source, count(*) AS n FROM documents GROUP BY lang, source"
)


@q("confusion_matrix_docs", CONFUSION_MATRIX_ORACLE)
def confusion_matrix_docs(spark, sf_dir):
    """Pairwise grouped count — the expected→recognized confusion matrix
    shape (SURVEY §2.4 A8)."""
    return _t(spark, sf_dir, "documents").groupBy("lang", "source").agg(
        F.count("*").alias("n")
    )


# (anti_join_inactive_customers rotated BACK into the gate window in r5
# per the PARITY.md policy (it had left in r4 for crawl_diff_docs), and
# was strengthened while doing so: the r1-r3 variant was the board's
# weakest row — 0 rows at the sf0.01 compare tier, every customer has
# orders there — so the anti-difference now runs against the HIGH-VALUE
# order slice (o_totalprice > 400 000): 202 customers lack one at
# sf0.01, making the E1 row value-bearing. Same left-anti plan shape,
# pre-filtered build side.)
ANTI_JOIN_ORACLE = """
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 400000.0)
    """


@q("anti_join_inactive_customers", ANTI_JOIN_ORACLE)
def anti_join_inactive_customers(spark, sf_dir):
    """Left-anti join (SURVEY §2.7 E1 missing-chars difference):
    customers with no high-value order."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 400000.0
    )
    return c.join(
        o, c.c_custkey == o.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


# (rank_orders_per_customer rotated BACK into the gate window in r5 per
# the PARITY.md policy — the W5 family's freshest ⊕ row was two rounds
# old; it had left in r4 for the curation family. The parity twin in
# tests/test_plans.py stays.)
RANK_ORDERS_ORACLE = """
    SELECT custkey, orderkey, totalprice, rnk FROM (
      SELECT o_custkey AS custkey, o_orderkey AS orderkey,
             o_totalprice AS totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rnk
      FROM orders) t WHERE rnk <= 3
    """


@q("rank_orders_per_customer", RANK_ORDERS_ORACLE)
def rank_orders_per_customer(spark, sf_dir):
    """Per-group top-k ranking window (SURVEY §2.5 W5)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderkey").alias("orderkey"),
            F.col("o_totalprice").alias("totalprice"),
            "rnk",
        )
    )


@q(
    "quality_filter_docs",
    r"""
    WITH inj AS (
      SELECT doc_id,
             CASE CAST(doc_id % 4 AS INT)
               WHEN 0 THEN '- ' || t2 || ' fin end here.'
               WHEN 1 THEN t2 || ' lorem ipsum {code} done.'
               WHEN 2 THEN t2 || ' trailing off ...'
               ELSE t2 END AS text
      FROM (SELECT doc_id,
                   CASE WHEN doc_id % 2 = 0 THEN text || ' the of and'
                        ELSE text END AS t2
            FROM documents)),
    tok AS (
      SELECT doc_id, text,
             list_filter(string_split(text, ' '), x -> len(x) > 0) AS toks,
             list_filter(string_split(lower(text), ' '), x -> len(x) > 0)
               AS toks_l,
             string_split(text, ' ') AS rawtoks
      FROM inj),
    lin AS (
      SELECT doc_id, text, toks, toks_l,
             CASE WHEN text IS NULL OR text = '' THEN []
             ELSE list_transform(
               range(0, greatest(CAST(ceil(len(rawtoks) / 8.0) AS INT), 1)),
               i -> array_to_string(list_slice(rawtoks, i*8+1, i*8+8), ' '))
             END AS lines
      FROM tok),
    s AS (
      SELECT doc_id,
        CAST(len(toks) AS BIGINT) AS n_words,
        round(coalesce(list_sum(list_transform(toks, x -> len(x))), 0)
              / greatest(len(toks), 1), 4) AS mean_word_len,
        round((len(text) - len(regexp_replace(text, '#|…', '', 'g'))
               + len(regexp_extract_all(text, '\.\.\.')))
              / greatest(len(toks), 1), 6) AS symbol_ratio,
        round(len(list_filter(toks, x -> regexp_matches(x, '[a-zA-Z]')))
              / greatest(len(toks), 1), 6) AS frac_alpha_words,
        CAST(len(list_filter(
               ['the','be','to','of','and','that','have','with'],
               s -> list_contains(toks_l, s))) AS BIGINT) AS n_req_stopwords,
        CAST(len(lines) AS BIGINT) AS n_lines,
        round(len(list_filter(lines, x -> regexp_matches(x, '^\s*[-*•‣▪]')))
              / greatest(len(lines), 1), 6) AS frac_bullet_lines,
        round(len(list_filter(lines,
                x -> regexp_matches(x, '(\.\.\.|…)\s*$')))
              / greatest(len(lines), 1), 6) AS frac_ellipsis_lines,
        list_filter(lines, x -> regexp_matches(x, '[.!?"”]\s*$')
            AND len(string_split(trim(x), ' ')) >= 3) AS kept,
        contains(lower(array_to_string(lines, ' ')), 'lorem ipsum')
          AS has_lorem,
        contains(lower(array_to_string(lines, ' ')), '{') AS has_brace
      FROM lin)
    SELECT doc_id, n_words, mean_word_len, symbol_ratio, frac_alpha_words,
           n_req_stopwords,
           (n_words BETWEEN 50 AND 100000)
             AND (mean_word_len BETWEEN 3.0 AND 10.0)
             AND symbol_ratio <= 0.1 AND frac_alpha_words >= 0.8
             AND n_req_stopwords >= 2 AS gopher_pass,
           n_lines, frac_bullet_lines, frac_ellipsis_lines,
           frac_bullet_lines <= 0.9 AND frac_ellipsis_lines <= 0.3
             AS line_pass,
           CAST(len(kept) AS BIGINT) AS n_kept,
           coalesce(array_to_string(kept, ' '), '') AS clean_text,
           has_lorem, has_brace,
           len(kept) >= 1 AND NOT has_lorem AND NOT has_brace AS c4_pass
    FROM s
    """,
)
def quality_filter_docs(spark, sf_dir):
    """Gopher doc-level + line-level quality rules and the C4 line filter
    (Rae et al. 2021 §A1.1; Raffel et al. 2020 §2.2), FUSED into one
    projection over one scan (curation.quality_filter) — the LLM-curation
    quality-gate leg. The word-soup corpus carries (correctly) almost no
    Gopher stopwords, bullets, or terminal punctuation, so — per the
    pii_redact_docs injection convention — deterministic doc_id-derived
    structure is injected identically on BOTH sides to make every rule
    fire in both directions: even doc_ids gain required stopwords, and
    doc_id%4 adds a bullet + terminal punctuation / a lorem+brace tail /
    a trailing ellipsis. min_kept_lines=1 because the injected
    punctuation can only land on each doc's final chunk-line."""
    docs = _tw(spark, sf_dir, "documents").select("doc_id", "text")
    m2, m4 = F.col("doc_id") % 2, F.col("doc_id") % 4
    t2 = F.when(m2 == 0, F.concat("text", F.lit(" the of and"))).otherwise(
        F.col("text")
    )
    inj = docs.select(
        "doc_id",
        F.when(m4 == 0, F.concat(F.lit("- "), t2, F.lit(" fin end here.")))
        .when(m4 == 1, F.concat(t2, F.lit(" lorem ipsum {code} done.")))
        .when(m4 == 2, F.concat(t2, F.lit(" trailing off ...")))
        .otherwise(t2)
        .alias("text"),
    )
    return curation.quality_filter(inj, min_kept_lines=1)


# (rollup_order_priority rotated BACK into the gate window in r5 per
# the PARITY.md policy — its freshest ⊕ row was two rounds old; it had
# left in r4 for the quality-LM family. The parity twin in
# tests/test_plans.py stays.)
ROLLUP_PRIORITY_ORACLE = """
    SELECT coalesce(o_orderpriority, 'ALL') AS priority,
           coalesce(o_orderstatus, 'ALL') AS status,
           count(*) AS n, round(sum(o_totalprice), 2) AS total
    FROM orders GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
    """


@q("rollup_order_priority", ROLLUP_PRIORITY_ORACLE)
def rollup_order_priority(spark, sf_dir):
    """Hierarchical rollup aggregate (free Catalyst win noted in SURVEY §2.4;
    the reference has no grouping sets — this is the engine going beyond)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderpriority", "o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .select(
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            "n",
            "total",
        )
    )


@q(
    "vocab_kmv_docs",
    """
    WITH g AS (
      SELECT lang,
             unnest(list_transform(range(1, len(string_split(text, ' '))),
               i -> string_split(text, ' ')[i] || ' '
                    || string_split(text, ' ')[i+1])) AS g
      FROM documents),
    h AS (
      SELECT DISTINCT lang,
             (('0x' || substr(md5(g), 1, 8))::BIGINT + 1) / 4294967296.0
               AS h
      FROM g),
    r AS (SELECT lang, h,
                 row_number() OVER (PARTITION BY lang ORDER BY h) AS rn
          FROM h),
    kk AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_kept, max(h) AS h_k
           FROM r WHERE rn <= 64 GROUP BY lang),
    ex AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_bigrams,
                  CAST(count(DISTINCT g) AS BIGINT) AS vocab_exact
           FROM g GROUP BY lang)
    SELECT ex.lang, n_bigrams, vocab_exact, n_kept,
           CASE WHEN n_kept < 64 THEN CAST(n_kept AS DOUBLE)
                ELSE round(63.0 / h_k) END AS est_distinct
    FROM ex JOIN kk USING (lang)
    """,
)
def vocab_kmv_docs(spark, sf_dir):
    """Per-language bigram-vocabulary size: exact count(DISTINCT) next to
    the deterministic KMV bottom-k sketch estimate (operators/sketches.py
    — hash-distinct + WindowGroupLimit k-smallest; mergeable bounded-state
    distinct counting, the 100 TB answer to vocabulary/cardinality
    estimation where exact distinct shuffles every value). Bigrams
    (dedup._gram_windows_expr, the shared gram builder) because the
    word-soup unigram vocab is below k — the sketch path must actually
    fire at the gate. The sketch is a pure function of the value set
    under a fixed md5 hash, so DuckDB reproduces the estimate
    bit-for-bit — unlike HLL, it can carry an exact oracle."""
    from granulate_char_ocr_spark.operators import sketches
    from granulate_char_ocr_spark.operators.dedup import (
        TOKENS,
        _gram_windows_expr,
    )

    grams = (
        _tw(spark, sf_dir, "documents")  # r6: single-row-group scan would
        .withColumn("_toks", TOKENS())   # serialize the whole gram build +
        .select(                         # map-side partial agg on one core
            "lang",
            F.explode(
                F.expr(_gram_windows_expr(2, distinct=False))
            ).alias("g"),
        )
    )
    # r6 (guide §2.3 "aggregate before you shuffle"): collapse occurrences
    # to per-(lang, gram) counts ONCE and hang both consumers off it — the
    # exact branch's countDistinct ran its own (lang, g) distinct pass and
    # the sketch branch re-exploded the corpus (branch pruning defeats
    # exchange reuse), so the explosion + gram shuffle happened twice.
    # The checkpoint is in-query (recomputed every invocation); the sketch
    # now also md5-hashes only distinct grams instead of every occurrence.
    lg = (
        grams.groupBy("lang", "g")
        .agg(F.count("*").alias("_c"))
        .localCheckpoint(eager=True)
    )
    exact = lg.groupBy("lang").agg(
        F.sum("_c").alias("n_bigrams"),
        F.count("*").alias("vocab_exact"),
    )
    kmv = sketches.kmv_distinct(lg, ["lang"], "g", k=64)
    return exact.join(kmv, "lang")


@q(
    "pdf_extract_docs",
    "SELECT doc_id, text AS extracted FROM documents",
)
def pdf_extract_docs(spark, sf_dir):
    """The north rule's "PDF/layout parse" leg: each document's text is
    written into a real single-page PDF on the executors and the
    extraction operator must recover the text EXACTLY, which is what
    the oracle reads from the source table — build and parse both under
    test. Odd doc_ids are written the PDF 1.5 way (xref stream +
    /ObjStm + indirect /Length — VERDICT r3 item 3); every third doc is
    written as positioned text runs in SCRAMBLED draw order
    (encode_pdf_runs: the text split into three same-line Tm runs,
    emitted right-to-left), so the layout parse (text-matrix tracking +
    XY-cut reading order, pdf_texts(layout=True)) is gate-graded too —
    on the single-column Td docs layout order equals draw order
    (tests/test_pdf_layout.py pins it)."""
    from granulate_char_ocr_spark.operators.docparse import pdf_texts
    from granulate_char_ocr_spark.operators.skew import widen_narrow_scan

    # r6: the driver's documents.parquet is a single row group, so without
    # widening BOTH Python stages (PDF build and parse) ran as one task on
    # one core (guide §2.5 input skew; the CLAUDE.md narrow-scan gotcha) —
    # 5.8 s serial vs ~1 s spread at sf1.0
    docs = widen_narrow_scan(
        _t(spark, sf_dir, "documents").select("doc_id", "text")
    )

    def build(batches):
        from granulate_char_ocr_spark.functions.pdf import (
            encode_pdf,
            encode_pdf_runs,
        )

        for pdf in batches:
            payloads = []
            for i, t in zip(pdf["doc_id"], pdf["text"]):
                objstm = bool(int(i) % 2)
                if int(i) % 3 == 2:
                    # three same-line runs, each placed at the previous
                    # run's estimated extent (0.6 em/char at 12 pt = the
                    # decoder's width model, so no false gutter), drawn
                    # reversed — reading order must reassemble t exactly
                    k1, k2 = len(t) // 3, 2 * len(t) // 3
                    runs, x = [], 72.0
                    for c in (t[:k1], t[k1:k2], t[k2:]):
                        if c:
                            runs.append((x, 700.0, c))
                        x += 7.2 * len(c)
                    payloads.append(
                        encode_pdf_runs(runs[::-1], object_streams=objstm)
                    )
                else:
                    payloads.append(
                        encode_pdf([t], object_streams=objstm)
                    )
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": payloads}
            )

    key_type = docs.schema["doc_id"].dataType.simpleString()
    pdfs = docs.mapInPandas(build, f"doc_id {key_type}, payload binary")
    return pdf_texts(pdfs, layout=True)


# =============================================================================
# B. training-data pipeline operators (dedup / ANN / text analysis)
# =============================================================================

_SHINGLE_SQL = (
    "SELECT DISTINCT doc_id, unnest(list_transform("
    "range(1, len(string_split(text, ' ')) - 1), "
    "i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]"
    " || ' ' || string_split(text, ' ')[i+2])) AS shingle FROM documents"
)


@q(
    "dedup_exact",
    """
    SELECT md5(text) AS fingerprint, min(doc_id) AS keep_id, count(*) AS n_dups
    FROM documents GROUP BY 1
    """,
)
def dedup_exact(spark, sf_dir):
    return dedup.exact_dedup(_t(spark, sf_dir, "documents"))


def _minhash_sql(k: int = 8, bands: int = 4) -> str:
    rows = k // bands
    mh_cols = ", ".join(
        f"min(md5('{s}:' || shingle)) AS mh_{s}" for s in range(k)
    )
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, md5(mh_{b * rows}"
        + "".join(f" || mh_{b * rows + r}" for r in range(1, rows))
        + ") AS bh FROM sig"
        for b in range(bands)
    )
    return f"""
    WITH sh AS ({_SHINGLE_SQL}),
    sig AS (SELECT doc_id, {mh_cols} FROM sh GROUP BY doc_id),
    banded AS ({band_selects})
    SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
    FROM banded l JOIN banded r
      ON l.band = r.band AND l.bh = r.bh AND l.doc_id < r.doc_id
    """


@q("dedup_minhash_lsh", _minhash_sql())
def dedup_minhash_lsh(spark, sf_dir):
    return dedup.lsh_candidate_pairs(_t(spark, sf_dir, "documents"))


@q(
    "dedup_ngram_jaccard",
    f"""
    WITH sh0 AS ({_SHINGLE_SQL}),
    keep AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) <= 100),
    sh AS (SELECT sh0.* FROM sh0 JOIN keep USING (shingle)),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT l.doc_id AS doc_a, r.doc_id AS doc_b, count(*) AS inter
      FROM sh l JOIN sh r ON l.shingle = r.shingle AND l.doc_id < r.doc_id
      GROUP BY 1, 2)
    SELECT doc_a, doc_b,
           round(inter / (sa.n_sh + sb.n_sh - inter), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE round(inter / (sa.n_sh + sb.n_sh - inter), 6) >= 0.5
    """,
)
def dedup_ngram_jaccard(spark, sf_dir):
    return dedup.ngram_jaccard_pairs(_t(spark, sf_dir, "documents"))


def _simhash_sql(bits: int) -> str:
    hex_digits = (bits + 3) // 4  # token-hash width derives from bits,
    sums = ", ".join(             # mirroring dedup.simhash (ADVICE r1)
        f"sum(CASE WHEN (th >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS s_{i}"
        for i in range(bits)
    )
    val = " + ".join(
        f"CASE WHEN s_{i} > 0 THEN {1 << i} ELSE 0 END" for i in range(bits)
    )
    return f"""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                 FROM documents),
    th AS (SELECT doc_id,
                  ('0x' || substr(md5(tok), 1, {hex_digits}))::BIGINT AS th
           FROM tok),
    s AS (SELECT doc_id, {sums} FROM th GROUP BY doc_id)
    SELECT doc_id, CAST({val} AS BIGINT) AS simhash FROM s
    """


@q(
    "simhash_near_pairs",
    f"""
    WITH sim AS ({_simhash_sql(bits=32)})
    SELECT l.doc_id AS doc_a, r.doc_id AS doc_b,
           CAST(bit_count(xor(l.simhash, r.simhash)) AS INT) AS hd
    FROM sim l JOIN sim r ON l.doc_id < r.doc_id
    WHERE bit_count(xor(l.simhash, r.simhash)) <= 2
    """,
)
def simhash_near_pairs(spark, sf_dir):
    """UNCAPPED (r1's doc_id<1000 cap removed) and at production width
    (bits=32, VERDICT r2 item 8 — the 16-bit space saturates by sf0.1, so
    near-pairs over it stop meaning near-duplicate): the Spark side is the
    banded pigeonhole equi-join — exact-equal to the oracle's brute-force
    quadratic, which only DuckDB runs."""
    return dedup.simhash_near_pairs(
        _t(spark, sf_dir, "documents"), bits=32
    )


def _clusters_sql() -> str:
    return f"""
    WITH RECURSIVE pairs AS ({_minhash_sql()}),
    edges AS (SELECT doc_a AS s, doc_b AS d FROM pairs
              UNION SELECT doc_b AS s, doc_a AS d FROM pairs),
    nodes AS (SELECT DISTINCT s AS node FROM edges),
    reach(node, label) AS (
        SELECT node, node FROM nodes
      UNION
        SELECT e.d, r.label FROM reach r JOIN edges e ON e.s = r.node
    )
    SELECT node, min(label) AS component FROM reach GROUP BY node
    """


@q("dedup_clusters_lsh", _clusters_sql())
def dedup_clusters_lsh(spark, sf_dir):
    """MinHash-LSH near-dup pair graph → connected components (the
    cluster/keeper leg of the dedup pipeline). LSH pairs, not the saturated
    16-bit simhash pairs: near-dup graphs must be SPARSE for clustering to
    mean anything (and for the transitive closure both engines compute to
    stay bounded). Spark runs distributed min-label propagation; the oracle
    computes identical components via a recursive CTE — an iterative
    algorithm with an EXACT cross-engine check."""
    pairs = dedup.lsh_candidate_pairs(_t(spark, sf_dir, "documents"))
    return dedup.connected_components(pairs)


def _embedding_cosine_pairs_sql(dims: int = 4, rings: int = 2) -> str:
    # hamming(l.cell, r.cell) <= rings: the multi-probe candidate rule —
    # identical to the Spark side's own-cell + ≤rings sign-flip probes.
    # rings=2 is the r5 operating point (recall 0.92 vs 0.56 at ring 1
    # on the sf0.01 truth set, BENCH/BASELINE.md §3).
    expr = _cosine_sql_expr("l.embedding", "r.embedding")
    ham = " + ".join(
        f"CASE WHEN substr(l.cell, {i + 1}, 1) != substr(r.cell, {i + 1}, 1) "
        "THEN 1 ELSE 0 END"
        for i in range(dims)
    )
    return f"""
    SELECT vec_a, vec_b, sim FROM (
      SELECT l.vec_id AS vec_a, r.vec_id AS vec_b, {expr} AS sim
      FROM (SELECT vec_id, embedding, {_cell_sql('embeddings')} AS cell
            FROM embeddings) l
      JOIN (SELECT vec_id, embedding, {_cell_sql('embeddings')} AS cell
            FROM embeddings) r
        ON ({ham}) <= {rings} AND l.vec_id < r.vec_id) t
    WHERE sim >= 0.4
    """


def _cosine_sql_expr(a: str, b: str) -> str:
    dot = (
        f"list_sum(list_transform(range(1, len({a}) + 1), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    )
    na = (
        f"sqrt(list_sum(list_transform(range(1, len({a}) + 1), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE))))"
    )
    nb = (
        f"sqrt(list_sum(list_transform(range(1, len({b}) + 1), "
        f"i -> CAST({b}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))))"
    )
    return f"round({dot} / ({na} * {nb}), 5)"


# (ann_cosine_topk left the 50-entry gate window in r5 — the r5
# rotation's near-duplicate-shape retirement (VERDICT r4 item 2): the
# brute-force and IVF variants share the rank/sim output shape, and
# ann_ivf_multiprobe_topk keeps the family's gate row (it additionally
# pins the cell-join recall path). Exact parity stays pinned by
# tests/test_ann_recall.py::test_ann_cosine_topk_parity against the
# oracle below.)
ANN_COSINE_ORACLE = f"""
    WITH pairs AS (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             {_cosine_sql_expr('q.embedding', 'e.embedding')} AS sim
      FROM embeddings q, embeddings e
      WHERE q.vec_id < 10 AND q.vec_id != e.vec_id)
    SELECT query_id, neighbor_id, rank, sim FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, neighbor_id) AS rank
      FROM pairs) t WHERE rank <= 5
    """


def ann_cosine_topk(spark, sf_dir):
    """Exact brute-force top-k, gemm formulation: one BLAS matmul per Arrow
    batch against the broadcast query matrix (r1's per-pair interpreted HOF
    was the bench's worst query by 4x). cosine_topk (the HOF plan) is pinned
    equal in tests/test_dedup_ops.py."""
    return similarity.cosine_topk_gemm(_t(spark, sf_dir, "embeddings"))


def _cell_sql(side: str, dims: int = 4) -> str:
    return " || ".join(
        f"CASE WHEN {side}.embedding[{i + 1}] >= 0 THEN '1' ELSE '0' END"
        for i in range(dims)
    )


def _multiprobe_sql(n_queries: int = 10, k: int = 5, dims: int = 4) -> str:
    def cell(flip: int | None) -> str:
        return " || ".join(
            (
                f"CASE WHEN embedding[{j + 1}] >= 0 THEN '0' ELSE '1' END"
                if j == flip
                else f"CASE WHEN embedding[{j + 1}] >= 0 THEN '1' ELSE '0' END"
            )
            for j in range(dims)
        )

    probes = ", ".join([cell(None), *(cell(i) for i in range(dims))])
    return f"""
    WITH c AS (SELECT vec_id, embedding, {cell(None)} AS cell FROM embeddings),
    q AS (SELECT vec_id, embedding, unnest([{probes}]) AS cell
          FROM embeddings WHERE vec_id < {n_queries}),
    pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_cosine_sql_expr('q.embedding', 'c.embedding')} AS sim
      FROM q JOIN c ON q.cell = c.cell AND q.vec_id != c.vec_id)
    SELECT query_id, neighbor_id, rank, sim FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, neighbor_id) AS rank
      FROM pairs) t WHERE rank <= {k}
    """


@q("ann_ivf_multiprobe_topk", _multiprobe_sql())
def ann_ivf_multiprobe_topk(spark, sf_dir):
    """Multi-probe IVF (own cell + one-sign-flip cells): the recall fix for
    quantization-boundary queries, still cell-equi-join pruned."""
    return similarity.ivf_topk_multiprobe(_t(spark, sf_dir, "embeddings"))


@q(
    "sample_stratified_docs",
    """
    SELECT doc_id, lang FROM documents
    WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100
          < CASE WHEN lang = 'en' THEN 10 WHEN lang = 'zh' THEN 80 ELSE 40 END
    """,
)
def sample_stratified_docs(spark, sf_dir):
    """Per-language downsampling (squash the dominant language, keep the
    tail) — the training-mix rebalancing op."""
    from granulate_char_ocr_spark.operators.sampling import stratified_sample

    return stratified_sample(
        _t(spark, sf_dir, "documents"),
        "doc_id",
        "lang",
        {"en": 10, "zh": 80},
        default_pct=40,
    ).select("doc_id", "lang")


@q("dedup_embedding_cosine", _embedding_cosine_pairs_sql())
def dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-dup pairs (semantic dedup leg). UNCAPPED
    (r1's vec_id<500 cap removed): candidates come from the IVF sign-cell
    equi-join on both engines — no cross join in either plan. The gate
    pins probe_rings=2, the measured dedup operating point (VERDICT r4
    item 7: recall 0.92 vs 0.56 at ring 1, same join shape)."""
    return dedup.embedding_near_pairs(
        _t(spark, sf_dir, "embeddings"), threshold=0.4, probe_rings=2
    )


def _hits_sql(lang: str) -> str:
    from granulate_char_ocr_spark.operators.textstats import LANG_MARKERS

    in_list = ", ".join(f"'{w}'" for w in LANG_MARKERS[lang])
    return (
        f"len(list_filter(string_split(text, ' '), x -> x IN ({in_list})))"
    )


def _script_sql(script: str) -> str:
    """Character count of a Unicode script block — same `\\x{{...}}` class
    the Spark side compiles (Java regex ≡ RE2 on these, parity pinned by
    tests/test_textstats_cjk.py)."""
    from granulate_char_ocr_spark.operators.textstats import SCRIPT_RANGES

    return f"len(regexp_extract_all(text, '{SCRIPT_RANGES[script]}'))"


def _lang_id_sql() -> str:
    """The oracle ladder generated from the SAME dicts the Spark side
    uses (textstats.SCRIPT_RANGES / SCRIPT_LANG) — one source of truth
    for which scripts exist and what they map to."""
    from granulate_char_ocr_spark.operators.textstats import (
        ALPHA_SCRIPT_CHARS_PER_WORD,
        SCRIPT_LANG,
        SCRIPT_RANGES,
    )

    best = "greatest(hits_en, hits_es, hits_fr, hits_de)"
    script_whens = "\n           ".join(
        f"WHEN hits_{s} > {ALPHA_SCRIPT_CHARS_PER_WORD} * {best} "
        f"THEN '{lang}'"
        for s, lang in SCRIPT_LANG.items()
    )
    script_cols = ",\n                 ".join(
        f"{_script_sql(s)} AS hits_{s}" for s in SCRIPT_RANGES
    )
    return f"""
    SELECT doc_id,
      CASE WHEN hits_kana > 0
                AND hits_kana + hits_han > {best} THEN 'ja'
           WHEN hits_hangul > {best} THEN 'ko'
           WHEN hits_han > {best} AND hits_kana = 0 THEN 'zh'
           {script_whens}
           WHEN hits_de > greatest(hits_en, hits_es, hits_fr) THEN 'de'
           WHEN hits_fr > greatest(hits_en, hits_es) THEN 'fr'
           WHEN hits_es > hits_en THEN 'es'
           WHEN hits_en > 0 THEN 'en'
           ELSE 'und' END AS predicted_lang
    FROM (SELECT doc_id, {_hits_sql('en')} AS hits_en,
                 {_hits_sql('es')} AS hits_es, {_hits_sql('fr')} AS hits_fr,
                 {_hits_sql('de')} AS hits_de,
                 {script_cols}
          FROM documents) t
    """


@q("lang_id_docs", _lang_id_sql())
def lang_id_docs(spark, sf_dir):
    return textstats.lang_id(_tw(spark, sf_dir, "documents"))


# (html_extract_docs left the 50-entry gate window in r4 for
# link_graph_hosts: the name-based HTML boilerplate strip stays
# gate-visible via html_main_content_docs (density DOM heuristics run
# AFTER the same strip cascade), markdown_convert_docs,
# warc_extract_docs, and web_corpus_manifest; exact parity stays pinned
# by tests/test_plans.py::test_html_extract_docs against the oracle
# below.)
HTML_EXTRACT_ORACLE = r"""
    SELECT doc_id,
           trim(regexp_replace(text, '[ \t\r\n\f\x0B]+', ' ', 'g'))
             AS main_text
    FROM documents
    """


def html_extract_docs(spark, sf_dir):
    """The north rule's "HTML boilerplate strip" leg: each document's text
    is entity-escaped into a full boilerplate page (head/title/style/
    script with tag-and-entity traps, nav, header, aside, footer) and the
    PURE-CODEGEN extractor (functions/html.py) must recover exactly the
    whitespace-collapsed original — which is what the oracle computes
    from the source text directly, so the page build AND the strip are
    both under test."""
    from granulate_char_ocr_spark.functions.html import escape_text
    from granulate_char_ocr_spark.operators.docparse import html_main_texts

    docs = _t(spark, sf_dir, "documents")
    page = F.concat(
        F.lit(
            '<html><head><title>Doc</title><style>p{color:#000}</style>'
            '<script>var trap = "<p>&amp;not content</p>";</script></head>'
            '<body><nav><a href="/">Home</a> | <a href="/a">A</a></nav>'
            # numeric character references decoding to whitespace (r3
            # item 9): the pass must run for the whitespace collapse to
            # recover the exact source text
            "<header><h1>Site</h1></header>&#32;&#x20;&#9;<p>"
        ),
        escape_text(F.col("text")),
        F.lit(
            "</p>&#10;&#x0A;<aside>related &#8217;links&#65536;</aside>"
            "<!-- tracking --><footer>(c) corp</footer></body></html>"
        ),
    )
    return html_main_texts(docs.select("doc_id", page.alias("html")))


# page skeleton for html_main_content_docs: class-named link farms that
# the NAME-based strip cannot see (no nav/aside tags anywhere) — only
# the density rule removes them. Whitespace-decoding numeric references
# sit inside a kept block so the decode affects the compared value.
_DOM_PREFIX = (
    '<html><head><title>Doc</title><style>p{color:#000}</style>'
    '<script>var trap = "<p>&amp;not content</p>";</script></head><body>'
    '<div class="menu"><a href="/">Home</a> <a href="/a">Archive</a> '
    '<a href="/c">Contact</a></div>'
    '<div class="related"><a href="/1">A long related-article teaser '
    'headline one</a> <a href="/2">A long related-article teaser '
    "headline two</a></div><p>"
)
_DOM_SUFFIX = (
    "</p><p>A closing&#32;&#x20;paragraph that cites "
    '<a href="/ref">one source</a>&#9;while reading as prose.</p>'
    '<div class="share"><a href="/t">Tweet</a> <a href="/f">Share</a>'
    "</div><footer>(c) corp</footer></body></html>"
)


def _dom_oracle_sql() -> str:
    from granulate_char_ocr_spark.functions.dom import (
        main_content_oracle_sql,
    )

    esc = (
        "replace(replace(replace(text, '&', '&amp;'), '<', '&lt;'), "
        "'>', '&gt;')"
    )
    page = (
        f"('{_DOM_PREFIX.replace(chr(39), chr(39) * 2)}' || {esc} || "
        f"'{_DOM_SUFFIX.replace(chr(39), chr(39) * 2)}')"
    )
    return f"""
    SELECT doc_id, {main_content_oracle_sql(page)} AS main_content
    FROM documents
    """


@q("html_main_content_docs", _dom_oracle_sql())
def html_main_content_docs(spark, sf_dir):
    """The north rule's "DOM heuristics" leg: each document's text is
    entity-escaped into a page whose boilerplate is all CLASS-named
    (menu/related/share divs — invisible to the name-based strip), and
    the density-based extractor (functions/dom.py) must keep exactly
    the content paragraphs. The oracle synthesizes the SAME page in SQL
    and applies the byte-identical RE2 transform, so the page build AND
    the block scoring are both under test; documents whose text
    collapses under MIN_BLOCK_CHARS lose their paragraph on BOTH sides
    (the rule, not an accident)."""
    from granulate_char_ocr_spark.functions.html import escape_text
    from granulate_char_ocr_spark.operators.docparse import (
        html_main_contents,
    )

    docs = _tw(spark, sf_dir, "documents")
    page = F.concat(
        F.lit(_DOM_PREFIX), escape_text(F.col("text")), F.lit(_DOM_SUFFIX)
    )
    return html_main_contents(docs.select("doc_id", page.alias("html")))


# page skeleton for html_table_rows_docs: a header-rowed spec table
# carrying the document text and lang as escaped cell content, a script
# trap holding a fake table (code, not content), and a second table
# whose cells exercise numeric references, inline-tag flattening and
# the double-escape rule — so pre-clean, both posexplodes, header
# detection and the shared entity decode are ALL under the value hash.
_TBL_PREFIX = (
    '<html><head><script>var t = "<table><tr><td>trap</td></tr>'
    '</table>";</script></head><body><table class="spec">'
    "<tr><th>Field</th><th>Value</th></tr><tr><td>body</td><td>"
)
_TBL_MID = "</td></tr><tr><td>lang</td><td>"
_TBL_SUFFIX = (
    "</td></tr></table><p>prose between tables</p>"
    "<table><tr><td>A&#32;B</td><td><b>bold</b> cell &amp;amp;</td>"
    "</tr></table></body></html>"
)


def _table_oracle_sql() -> str:
    from granulate_char_ocr_spark.functions.htmltable import (
        table_rows_oracle_sql,
    )

    def esc(col: str) -> str:
        return (
            f"replace(replace(replace({col}, '&', '&amp;'), '<', '&lt;'), "
            "'>', '&gt;')"
        )

    page = (
        f"('{_TBL_PREFIX}' || {esc('text')} || '{_TBL_MID}' || "
        f"{esc('lang')} || '{_TBL_SUFFIX}')"
    )
    return table_rows_oracle_sql("documents", page)


@q("html_table_rows_docs", _table_oracle_sql())
def html_table_rows_docs(spark, sf_dir):
    """Structured-table recovery (functions/htmltable.py): each document's
    text and lang are entity-escaped into a two-table page (header row,
    script-trap table, numeric-reference cells) and the extractor must
    emit exactly 4 structured rows per document — (table_idx, row_idx,
    is_header, US-joined cells, n_cells). The oracle synthesizes the
    SAME page in SQL and runs the byte-identical RE2 transform, so the
    page build AND both explode stages sit under the value hash. Pure
    whole-stage codegen — the two posexplodes are the only row
    multipliers."""
    from granulate_char_ocr_spark.functions.html import escape_text
    from granulate_char_ocr_spark.operators.docparse import html_tables

    docs = _tw(spark, sf_dir, "documents")
    page = F.concat(
        F.lit(_TBL_PREFIX),
        escape_text(F.col("text")),
        F.lit(_TBL_MID),
        escape_text(F.col("lang")),
        F.lit(_TBL_SUFFIX),
    )
    return html_tables(docs.select("doc_id", page.alias("html")))


@q(
    "warc_extract_docs",
    r"""
    SELECT doc_id,
           trim(regexp_replace(text, '[ \t\r\n\f\x0B]+', ' ', 'g'))
             AS main_text
    FROM documents
    """,
)
def warc_extract_docs(spark, sf_dir):
    """The web-scale ingest front door (r4): documents are entity-escaped
    into boilerplate pages, packed into Common Crawl-layout WARC files
    (per-record gzip members, warcinfo + HTTP response records —
    functions/warc.py), then the READ path runs: record explode
    (docparse.warc_records, 1→N mapInArrow over file payloads), HTTP
    envelope strip, charset decode, and the pure-codegen boilerplate
    strip — recovering exactly the whitespace-collapsed source text the
    oracle computes directly. Container build, record framing, HTTP
    parse, and HTML strip are ALL under the value hash. At cluster
    scale the unit of parallelism is the WARC file (the crawler bounds
    file sizes), and everything after the record explode is
    whole-stage codegen."""
    from granulate_char_ocr_spark.functions.html import escape_text
    from granulate_char_ocr_spark.operators.docparse import (
        build_warc_files,
        html_main_texts,
        warc_records,
    )

    docs = _t(spark, sf_dir, "documents")
    page = F.concat(
        F.lit(
            '<html><head><title>Doc</title></head><body>'
            '<nav><a href="/">Home</a> | <a href="/a">A</a></nav><p>'
        ),
        escape_text(F.col("text")),
        F.lit("</p><footer>&#169; corp</footer></body></html>"),
    )
    pages = docs.select(
        F.pmod(F.col("doc_id"), F.lit(32)).cast("int").alias("file_id"),
        F.concat(F.lit("https://corpus.example/d/"), F.col("doc_id")).alias(
            "url"
        ),
        page.alias("html"),
    )
    recs = warc_records(build_warc_files(pages))
    html_rows = recs.filter(
        (F.col("rec_type") == "response") & (F.col("http_status") == 200)
    ).select(
        F.regexp_extract("url", r"/d/([0-9]+)$", 1)
        .cast("bigint")
        .alias("doc_id"),
        F.decode(F.col("body"), "UTF-8").alias("html"),
    )
    return html_main_texts(html_rows)


# (markdown_convert_docs left the 50-entry gate window in r5 — the
# near-duplicate-shape retirement within the five-entry HTML family
# (VERDICT r4 item 2): the codegen regex-cascade shape stays
# gate-visible via html_main_content_docs and html_table_rows_docs.
# Exact parity stays pinned by
# tests/test_markdown.py::test_markdown_convert_docs_parity against the
# oracle below.
# Oracle note: blocks are list_filter'd then joined with one blank
# line — an empty/whitespace-only body paragraph vanishes on BOTH sides
# (the converter's \n{3,} collapse merges the hole; a plain concat
# oracle would keep four newlines and falsely mismatch).)
MARKDOWN_CONVERT_ORACLE = r"""
    SELECT doc_id,
           array_to_string(list_filter([
             '# Doc ' || CAST(doc_id AS VARCHAR),
             trim(regexp_replace(text, '[ \t\r\n\f\x0B]+', ' ', 'g')),
             '## Meta',
             '- lang: **' || lang || '**' || chr(10)
               || '- source: *' || source || '*',
             'See [doc ' || CAST(doc_id AS VARCHAR)
               || '](https://corpus.example/d/' || CAST(doc_id AS VARCHAR)
               || ') & `raw`.'
           ], s -> s <> ''), chr(10) || chr(10)) AS markdown
    FROM documents
    """


def markdown_convert_docs(spark, sf_dir):
    """HTML → Markdown render (r4): each document becomes a structured
    page (heading, body paragraph, metadata list with bold/italic
    spans, a link + inline code), and the pure-codegen converter
    (functions/markdown.py) must emit the exact Markdown the oracle
    constructs INDEPENDENTLY from the source fields — page build and
    conversion are checked against a second derivation, not a mirrored
    transform. Zero exchanges: one scan, one projection."""
    from granulate_char_ocr_spark.functions.html import escape_text
    from granulate_char_ocr_spark.operators.docparse import (
        html_to_markdown,
    )

    docs = _tw(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    page = F.concat(
        F.lit(
            "<html><head><title>t</title><style>p{color:#000}</style>"
            "</head><body><h1>Doc "
        ),
        did,
        F.lit("</h1><p>"),
        escape_text(F.col("text")),
        F.lit("</p><h2>Meta</h2><ul><li>lang: <b>"),
        F.col("lang"),
        F.lit("</b></li><li>source: <i>"),
        F.col("source"),
        F.lit('</i></li></ul><p>See <a href="https://corpus.example/d/'),
        did,
        F.lit('">doc '),
        did,
        F.lit("</a> &amp; <code>raw</code>.</p></body></html>"),
    )
    return html_to_markdown(docs.select("doc_id", page.alias("html")))


# deterministic per-document URL synth shared by the crawl-frontier
# gates (url_filter_docs, robots_filter_docs): branch mix covers hosts
# with and without robots/blocklist hits, IP literals, digit-heavy
# hosts, asset/deep paths, ports, query spam and a non-http scheme.
_SYNTH_URL_SQL = """
      (CASE WHEN doc_id % 16 = 9 THEN 'ftp' ELSE 'https' END) || '://' ||
      (CASE doc_id % 8
         WHEN 0 THEN 'news.example.com'
         WHEN 1 THEN 'blog.example.org'
         WHEN 2 THEN 'casino-winbig.example.com'
         WHEN 3 THEN '10.' || CAST(doc_id % 200 AS VARCHAR) || '.0.7'
         WHEN 4 THEN 'cdn' || CAST(doc_id * 37 AS VARCHAR) || '.example.net'
         WHEN 5 THEN 'files.example.com'
         WHEN 6 THEN 'deep.example.com'
         ELSE 'shop.example.top' END) ||
      (CASE WHEN doc_id % 16 = 1 THEN ':8080' ELSE '' END) ||
      (CASE doc_id % 8
         WHEN 5 THEN '/assets/pack.zip'
         WHEN 6 THEN '/a/b/c/d/e/f/g/h'
         ELSE '/p/' || CAST(doc_id AS VARCHAR) END) ||
      (CASE WHEN doc_id % 5 = 0 THEN '?a=1&b=2&c=3&d=4&e=5' ELSE '' END)
    """


def _synth_url_expr():
    """Spark twin of _SYNTH_URL_SQL (same branch mix, same strings)."""
    did = F.col("doc_id")
    m8, m16 = F.pmod(did, F.lit(8)), F.pmod(did, F.lit(16))
    host = (
        F.when(m8 == 0, F.lit("news.example.com"))
        .when(m8 == 1, F.lit("blog.example.org"))
        .when(m8 == 2, F.lit("casino-winbig.example.com"))
        .when(
            m8 == 3,
            F.concat(
                F.lit("10."),
                F.pmod(did, F.lit(200)).cast("string"),
                F.lit(".0.7"),
            ),
        )
        .when(
            m8 == 4,
            F.concat(
                F.lit("cdn"),
                (did * 37).cast("string"),
                F.lit(".example.net"),
            ),
        )
        .when(m8 == 5, F.lit("files.example.com"))
        .when(m8 == 6, F.lit("deep.example.com"))
        .otherwise(F.lit("shop.example.top"))
    )
    path = (
        F.when(m8 == 5, F.lit("/assets/pack.zip"))
        .when(m8 == 6, F.lit("/a/b/c/d/e/f/g/h"))
        .otherwise(F.concat(F.lit("/p/"), did.cast("string")))
    )
    return F.concat(
        F.when(m16 == 9, F.lit("ftp")).otherwise(F.lit("https")),
        F.lit("://"),
        host,
        F.when(m16 == 1, F.lit(":8080")).otherwise(F.lit("")),
        path,
        F.when(F.pmod(did, F.lit(5)) == 0, F.lit("?a=1&b=2&c=3&d=4&e=5"))
        .otherwise(F.lit("")),
    )


def _url_filter_sql() -> str:
    from granulate_char_ocr_spark.operators.urlfilter import (
        url_quality_oracle_sql,
    )

    host, keep, reasons = url_quality_oracle_sql("url")
    return f"""
    WITH u AS (SELECT doc_id, {_SYNTH_URL_SQL} AS url FROM documents)
    SELECT doc_id, url, {host} AS host, {keep} AS keep, {reasons} AS reasons
    FROM u
    """


@q("url_filter_docs", _url_filter_sql())
def url_filter_docs(spark, sf_dir):
    """Crawl-frontier URL quality filter (r4): a deterministic URL is
    synthesized per document — branch mix covers every rule (blocklist
    host, IP literal, spam TLD, digit-heavy host, deep path, asset
    extension, query spam, non-http scheme, explicit port) — and the
    pure-codegen rule set (operators/urlfilter.py) must agree with the
    byte-identical DuckDB rule set on keep + fired-reason list. One
    scan, one projection, zero exchanges at any scale."""
    from granulate_char_ocr_spark.operators.urlfilter import url_quality

    docs = _t(spark, sf_dir, "documents")
    return url_quality(
        docs.select("doc_id", _synth_url_expr().alias("url")),
        keep_cols=("doc_id",),
    )


# (crawl_diff_docs left the 50-entry gate window in r5 — the
# near-duplicate-shape retirement within the temporal-window family
# (VERDICT r4 item 2): lag/full-outer change detection stays
# gate-visible via asof_last_purchase_events, and the diff's
# status-classification output is consumed — and therefore
# value-checked — by the NEW crawl_schedule_docs gate entry's priority
# weights. Exact parity stays pinned by
# tests/test_crawl.py::test_crawl_diff_docs_parity against the oracle
# below.)
CRAWL_DIFF_ORACLE = """
    WITH old AS (
      SELECT 'u' || CAST(doc_id AS VARCHAR) AS url, text AS content
      FROM documents WHERE doc_id % 10 <> 0),
    new AS (
      SELECT 'u' || CAST(doc_id AS VARCHAR) AS url,
             CASE WHEN doc_id % 3 = 0 THEN text || ' updated'
                  ELSE text END AS content
      FROM documents WHERE doc_id % 7 <> 0)
    SELECT coalesce(o.url, n.url) AS url,
           CASE WHEN o.url IS NULL THEN 'added'
                WHEN n.url IS NULL THEN 'removed'
                WHEN o.content = n.content THEN 'unchanged'
                ELSE 'changed' END AS status,
           length(o.content) AS old_len, length(n.content) AS new_len
    FROM old o FULL OUTER JOIN new n ON o.url = n.url
    """


def crawl_diff_docs(spark, sf_dir):
    """Incremental-crawl snapshot diff (r4): two synthetic snapshots of
    the corpus (pages added, removed, edited) classified by ONE
    full-outer join (operators/crawl.snapshot_diff) — the recrawl stage
    that decides what re-enters the pipeline. The oracle is DuckDB's
    native FULL OUTER JOIN with the same classification."""
    from granulate_char_ocr_spark.operators.crawl import snapshot_diff

    docs = _t(spark, sf_dir, "documents")
    url = F.concat(F.lit("u"), F.col("doc_id").cast("string")).alias("url")
    old = docs.filter(F.pmod("doc_id", F.lit(10)) != 0).select(
        url, F.col("text").alias("content")
    )
    new = docs.filter(F.pmod("doc_id", F.lit(7)) != 0).select(
        url,
        F.when(
            F.pmod("doc_id", F.lit(3)) == 0,
            F.concat(F.col("text"), F.lit(" updated")),
        )
        .otherwise(F.col("text"))
        .alias("content"),
    )
    return snapshot_diff(old, new)


@q(
    "crawl_schedule_docs",
    """
    WITH f AS (
      SELECT 'u' || CAST(doc_id AS VARCHAR) AS url,
             'h' || CAST(doc_id % 40 AS VARCHAR) AS host,
             doc_id % 40 AS k, doc_id
      FROM documents),
    ranks AS (
      SELECT 'h' || CAST(k AS VARCHAR) AS host,
             CAST(k + 1 AS DOUBLE) / 128 AS rank
      FROM (SELECT DISTINCT k FROM f WHERE k < 30)),
    d AS (
      SELECT url,
             CASE WHEN doc_id % 7 = 0 THEN 'removed'
                  WHEN doc_id % 3 = 0 THEN 'changed'
                  ELSE 'unchanged' END AS status
      FROM f WHERE doc_id % 10 <> 0),
    scored AS (
      SELECT f.url, f.host,
             coalesce(r.rank, CAST(1e-6 AS DOUBLE)) *
             (CASE WHEN d.status = 'removed' THEN CAST(0.0 AS DOUBLE)
                   WHEN d.status = 'changed' THEN CAST(0.8 AS DOUBLE)
                   WHEN d.status = 'unchanged' THEN CAST(0.05 AS DOUBLE)
                   ELSE CAST(1.0 AS DOUBLE) END) AS priority
      FROM f LEFT JOIN ranks r USING (host) LEFT JOIN d USING (url))
    SELECT url, host, round(priority, 6) AS priority FROM (
      SELECT *, row_number() OVER (PARTITION BY host
                 ORDER BY priority DESC, url) AS rn
      FROM scored WHERE priority > 0) t
    WHERE rn <= 5
    """,
)
def crawl_schedule_docs(spark, sf_dir):
    """Crawl-maintenance composition (VERDICT r4 item 9 — the first
    end-to-end DuckDB check of authority × change × budget): a frontier
    synthesized from the documents table joins broadcast host authority
    (hosts ≥ 30 are rank-less — the newly-discovered default_rank leg),
    joins the snapshot-diff statuses ('removed' pages leave the
    schedule, doc_id%10 rows are never-seen → full weight), and is
    capped at 5 URLs/host by the politeness window
    (operators/crawl.crawl_schedule). Two exchanges over the frontier
    regardless of corpus size: one url-key diff join, one host-key
    window; the rank join broadcasts."""
    from granulate_char_ocr_spark.operators.crawl import crawl_schedule

    docs = _t(spark, sf_dir, "documents")
    url = F.concat(F.lit("u"), F.col("doc_id").cast("string"))
    k = F.pmod("doc_id", F.lit(40))
    host = F.concat(F.lit("h"), k.cast("string"))
    frontier = docs.select(url.alias("url"), host.alias("host"))
    ranks = (
        docs.select(k.alias("k"))
        .distinct()
        .filter(F.col("k") < 30)
        .select(
            F.concat(F.lit("h"), F.col("k").cast("string")).alias("host"),
            ((F.col("k") + 1).cast("double") / F.lit(128.0)).alias("rank"),
        )
    )
    diff = docs.filter(F.pmod("doc_id", F.lit(10)) != 0).select(
        url.alias("url"),
        F.when(F.pmod("doc_id", F.lit(7)) == 0, "removed")
        .when(F.pmod("doc_id", F.lit(3)) == 0, "changed")
        .otherwise("unchanged")
        .alias("status"),
    )
    sched = crawl_schedule(frontier, ranks, diff, per_host_budget=5)
    return sched.select(
        "url", "host", F.round("priority", 6).alias("priority")
    )


# robots.txt corpus for robots_filter_docs: one file per named host,
# exercising the parse corners — comments, field-name case, a
# multi-UA run containing '*' (rules must apply), a foreign
# agent-specific group (rules must NOT apply), an agent-specific group
# for OUR crawler token (must displace the '*' group, case-insensitive
# token match), Allow overrides, '*' wildcards, '$' end anchors, an
# equal-length Allow/Disallow tie (→ allow, RFC 9309 §2.2.2), an empty
# Disallow (no rule), a Disallow-everything file, and a rule BEFORE any
# User-agent line (outside any group → ignored per RFC 9309).
_ROBOTS_AGENT = "gcosbot"
_ROBOTS_FILES = [
    (
        "news.example.com",
        "# site robots\nUser-agent: googlebot\nDisallow: /g-only/\n\n"
        "User-agent: *\nDisallow: /p/1\ndisallow: /private/\n"
        "Allow: /p/16$\nDisallow: /p/24\nAllow: /p/24\n",
    ),
    (
        "blog.example.org",
        "User-agent: badbot\nUser-agent: *\nDisallow: /p/2\n\n"
        "User-agent: GCOSbot\nDisallow: /p/25$\n",
    ),
    ("casino-winbig.example.com", "User-agent: *\nDisallow: /\n"),
    (
        "files.example.com",
        "User-agent: *\nDisallow:\nAllow: /assets/\nDisallow: /*.zip$\n",
    ),
    (
        "deep.example.com",
        "Disallow: /a/\nUser-agent: *\nDisallow: /a/b/c\nDisallow: /a/*/c\n",
    ),
    ("shop.example.top", "User-agent: googlebot\nDisallow: /\n"),
]

# the governing-group rules (for agent gcosbot) the files above must
# parse and COMPILE to — (host, regex pattern, octet-length priority,
# is_allow), hand-written so the oracle derives `allowed` from an
# independent statement of intent, not a mirrored transform. The
# patterns use the Java/RE2-common subset so DuckDB and Spark agree.
_ROBOTS_EXPECTED_RULES = [
    ("news.example.com", "^/p/1", 4, False),
    ("news.example.com", "^/private/", 9, False),
    ("news.example.com", "^/p/16$", 6, True),
    ("news.example.com", "^/p/24", 5, False),
    ("news.example.com", "^/p/24", 5, True),
    # gcosbot group displaces blog's '*' group entirely
    ("blog.example.org", "^/p/25$", 6, False),
    ("casino-winbig.example.com", "^/", 1, False),
    ("files.example.com", "^/assets/", 8, True),
    ("files.example.com", r"^/.*\.zip$", 7, False),
    ("deep.example.com", "^/a/b/c", 6, False),
    ("deep.example.com", "^/a/.*/c", 6, False),  # octet_length('/a/*/c')
]

# the RFC 9309 longest-match fold as one SQL aggregate: among matching
# rules take the highest (prio, allow-wins-ties) — encoded prio*2+allow
# since prios differ by ≥1 — defaulting to allowed when nothing matches
def _robots_allowed_sql(path_sql: str) -> str:
    return f"""COALESCE((
             SELECT arg_max(r.is_allow,
                            r.prio * 2 + CASE WHEN r.is_allow THEN 1 ELSE 0 END)
             FROM r
             WHERE r.host = u.host
               AND regexp_matches(
                     CASE WHEN {path_sql} = '' THEN '/' ELSE {path_sql} END,
                     r.pattern)
           ), TRUE)"""


def _robots_filter_sql() -> str:
    # host/path slices interpolate the SHARED urlfilter regex constants
    # so the oracle can never drift from the engine-side URL parse
    from granulate_char_ocr_spark.operators.urlfilter import (
        _RE_HOST,
        _RE_PATH,
    )

    vals = ", ".join(
        f"('{h}', '{p}', {pr}, {a})"
        for h, p, pr, a in _ROBOTS_EXPECTED_RULES
    )
    path = f"regexp_extract(url, '{_RE_PATH}', 1)"
    return f"""
    WITH u AS (
      SELECT doc_id, {_SYNTH_URL_SQL} AS url,
             regexp_extract({_SYNTH_URL_SQL}, '{_RE_HOST}', 1) AS host
      FROM documents),
    r AS (SELECT * FROM (VALUES {vals}) t(host, pattern, prio, is_allow))
    SELECT doc_id, url, host,
           {_robots_allowed_sql(path)} AS allowed
    FROM u
    """


@q("robots_filter_docs", _robots_filter_sql())
def robots_filter_docs(spark, sf_dir):
    """robots.txt compliance (r4): per-host robots.txt TEXT is parsed
    RELATIONALLY (operators/crawl.robots_rules — line explode +
    UA-run window grouping + codegen rule→regex compile, no Python),
    then URLs join the broadcast rule table and fold to the RFC 9309
    longest-match verdict (apply_robots). The oracle derives `allowed`
    from an independent hand-written statement of each file's
    governing-group rules (patterns included), so the parse AND the
    compile are under the value hash. Corners covered: comments, field
    case, multi-UA runs, foreign + own agent-specific groups, Allow
    overrides, '*' wildcards, '$' anchors, equal-length ties, empty
    Disallow, pre-group rules."""
    from granulate_char_ocr_spark.operators.crawl import (
        apply_robots,
        robots_rules,
    )
    from granulate_char_ocr_spark.operators.urlfilter import _RE_HOST

    docs = _t(spark, sf_dir, "documents")
    robots = spark.createDataFrame(
        _ROBOTS_FILES, "host string, robots_txt string"
    )
    rules = robots_rules(robots, agent=_ROBOTS_AGENT)
    url = _synth_url_expr()
    urls = docs.select(
        "doc_id",
        url.alias("url"),
        F.regexp_extract(url, _RE_HOST, 1).alias("host"),
    )
    return apply_robots(urls, rules).select(
        "doc_id", "url", "host", "allowed"
    )


# page-metadata gate: pages are synthesized per document with the
# metadata fields derived from doc_id/lang ARITHMETIC, cycling a
# 4-branch corner matrix (entities + JSON-LD date / flipped attribute
# orders + bare attrs / uppercase-multiline title + <time> / nothing).
# The oracle reconstructs the expected fields from the same arithmetic
# — never from regexes over the HTML — so the whole extraction cascade
# sits under the value hash.
_PAGE_META_SQL = """
    SELECT doc_id,
      CASE doc_id % 4
        WHEN 0 THEN 'Doc & — ' || CAST(doc_id AS VARCHAR)
        WHEN 2 THEN 'Doc ' || CAST(doc_id AS VARCHAR)
        WHEN 3 THEN CASE WHEN doc_id % 8 = 7
                         THEN 'Error 404 Not Found' ELSE NULL END
        ELSE NULL END AS title,
      CASE WHEN doc_id % 4 IN (0, 1) THEN lang ELSE NULL END AS lang,
      CASE doc_id % 4
        WHEN 0 THEN 'https://corpus.example/d/' || CAST(doc_id AS VARCHAR)
        WHEN 1 THEN 'https://corpus.example/c/' || CAST(doc_id AS VARCHAR)
        ELSE NULL END AS canonical_url,
      CASE doc_id % 4
        WHEN 0 THEN 'Entry "' || CAST(doc_id AS VARCHAR) || '"'
        WHEN 1 THEN 'Desc ' || CAST(doc_id AS VARCHAR)
        ELSE NULL END AS description,
      CASE doc_id % 4
        WHEN 0 THEN '2024-01-' ||
                    lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') ||
                    'T00:00:00Z'
        WHEN 1 THEN '2023-' ||
                    lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0') || '-15'
        WHEN 2 THEN '2020-06-' ||
                    lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
        ELSE NULL END AS published,
      (doc_id % 4 IN (1, 2) OR doc_id % 5 = 0) AS noindex,
      (doc_id % 4 = 2 OR doc_id % 5 = 0) AS nofollow,
      (doc_id % 8 = 7 OR doc_id = 404) AS soft404
    FROM documents
    """


@q("page_metadata_docs", _PAGE_META_SQL)
def page_metadata_docs(spark, sf_dir):
    """Page-metadata extraction (r4): title / lang / canonical URL /
    meta description / published date pulled from synthesized pages by
    the pure-codegen cascade in functions/metadata.py
    (page_metadata_cols). Branch corners: entity-bearing
    title + JSON-LD datePublished; flipped attribute orders + bare
    attribute values + article:published_time; uppercase multiline
    <TITLE> + <time datetime>; a metadata-free page (all NULL). The
    published ladder's precedence is exercised by branch 0 carrying
    BOTH a JSON-LD date and a decoy <time> element.

    The same pages also grade INDEXABILITY (r4,
    functions/metadata.indexability_cols): branch 0 carries an explicit
    'index, follow' robots meta (must NOT flag — and 'index'/'follow'
    must not substring-match the no- tokens), branch 1 a flipped-order
    single-quoted 'noindex', branch 2 an uppercase bare-attribute
    CONTENT=none (== noindex+nofollow), and every fifth doc gets an
    X-Robots-Tag response header; doc_id%8==7 pages are soft-404s
    (error title on an otherwise-200 page). The oracle derives all
    three booleans from doc_id arithmetic — with one deliberate pin:
    doc_id 404's title 'Doc & — 404' legitimately trips the \\b404\\b
    marker, a real false positive of the standard heuristic, asserted
    rather than hidden (soft404 includes OR doc_id = 404)."""
    from granulate_char_ocr_spark.functions.metadata import (
        indexability_cols,
        page_metadata_cols,
    )

    docs = _tw(spark, sf_dir, "documents")
    did = F.col("doc_id")
    ds = did.cast("string")
    m4 = F.pmod(did, F.lit(4))
    dd = F.lpad((F.pmod(did, F.lit(28)) + 1).cast("string"), 2, "0")
    mm = F.lpad((F.pmod(did, F.lit(12)) + 1).cast("string"), 2, "0")
    page = (
        F.when(
            m4 == 0,
            F.concat(
                F.lit('<html lang="'),
                F.col("lang"),
                F.lit('"><head><title>Doc &amp; &#8212; '),
                ds,
                F.lit('</title><link rel="canonical" '),
                F.lit('href="https://corpus.example/d/'),
                ds,
                F.lit('"><meta name="description" content="Entry &quot;'),
                ds,
                F.lit('&quot;"><meta name="robots" '),
                F.lit('content="index, follow">'),
                F.lit('<script type="application/ld+json">'),
                F.lit('{"@type": "Article", "datePublished": "2024-01-'),
                dd,
                F.lit('T00:00:00Z"}</script></head><body><p>x</p>'),
                F.lit('<time datetime="1970-01-01">decoy</time>'),
                F.lit("</body></html>"),
            ),
        )
        .when(
            m4 == 1,
            F.concat(
                F.lit("<html lang="),
                F.col("lang"),
                F.lit("><head><link href='https://corpus.example/c/"),
                ds,
                F.lit("' rel='canonical'><meta content='Desc "),
                ds,
                F.lit("' name='description'><meta content='2023-"),
                mm,
                F.lit("-15' property='article:published_time'>"),
                F.lit("<meta content='noindex' name='robots'>"),
                F.lit("</head><body>y</body></html>"),
            ),
        )
        .when(
            m4 == 2,
            F.concat(
                F.lit("<html><head><TITLE>\n  Doc\t"),
                ds,
                F.lit("\n</TITLE><META NAME=ROBOTS CONTENT=none>"),
                F.lit("</head><body><time datetime=2020-06-"),
                dd,
                F.lit(">t</time></body></html>"),
            ),
        )
        .when(
            F.pmod(did, F.lit(8)) == 7,
            F.lit(
                "<html><head><title>Error 404 Not Found</title></head>"
                "<body><p>The page does not exist.</p></body></html>"
            ),
        )
        .otherwise(
            F.lit("<html><head></head><body><p>plain</p></body></html>")
        )
    )
    headers = F.when(
        F.pmod(did, F.lit(5)) == 0,
        F.lit(
            "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
            "X-Robots-Tag: noindex, nofollow\r\nServer: x\r\n"
        ),
    ).otherwise(
        F.lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n")
    )
    pages = docs.select(
        "doc_id", page.alias("html"), headers.alias("headers")
    )
    # one projection — metadata + indexability fused, zero exchanges
    return pages.select(
        "doc_id",
        *page_metadata_cols(F.col("html")),
        *indexability_cols(F.col("html"), F.col("headers")),
    )


def _web_manifest_sql() -> str:
    from granulate_char_ocr_spark.operators.urlfilter import (
        _RE_PATH,
        canonical_url_sql,
        url_quality_oracle_sql,
    )

    host_sql, keep_sql, _ = url_quality_oracle_sql("url")
    vals = ", ".join(
        f"('{h}', '{p}', {pr}, {a})"
        for h, p, pr, a in _ROBOTS_EXPECTED_RULES
    )
    path = f"regexp_extract(url, '{_RE_PATH}', 1)"
    return rf"""
    WITH base AS (
      SELECT doc_id, {_SYNTH_URL_SQL} AS url, text FROM documents),
    mirror AS (
      SELECT doc_id + 1000000 AS doc_id,
             url || CASE WHEN contains(url, '?')
                         THEN '&utm_source=mirror'
                         ELSE '?utm_source=mirror' END AS url,
             text
      FROM base),
    allr AS (SELECT * FROM base UNION ALL SELECT * FROM mirror),
    kept AS (
      SELECT doc_id, url, text, {host_sql} AS host
      FROM allr WHERE {keep_sql}),
    r AS (SELECT * FROM (VALUES {vals}) t(host, pattern, prio, is_allow)),
    allowed AS (
      SELECT * FROM kept u WHERE {_robots_allowed_sql(path)}),
    canon AS (
      SELECT doc_id, {canonical_url_sql('url')} AS url, text
      FROM allowed),
    keepers AS (SELECT url, min(doc_id) AS doc_id FROM canon GROUP BY url)
    SELECT k.doc_id, k.url,
           trim(regexp_replace(c.text, '[ \t\r\n\f\x0B]+', ' ', 'g'))
             AS main_text
    FROM keepers k JOIN canon c ON c.url = k.url AND c.doc_id = k.doc_id
    """


@q("web_corpus_manifest", _web_manifest_sql())
def web_corpus_manifest(spark, sf_dir):
    """The end-to-end web-tier flagship (r4), ONE plan: frontier →
    compliance → dedup → fetch → extract.

    1. URL synth + a mirror snapshot carrying tracking params/extra
       query (the same pages under different URLs);
    2. lexical URL quality filter (url_quality keep);
    3. robots.txt compliance (relational parse + broadcast apply);
    4. CANONICAL-URL dedup (canonical_url_expr key, min-doc_id winner —
       the mirror snapshot vanishes here, so fetch cost is paid ONCE
       per canonical page, the order a real pipeline wants);
    5. fetch+extract: survivors packed into WARC files, record explode,
       HTTP strip, charset decode, boilerplate strip.

    Every stage is individually gate-validated elsewhere; this entry
    grades their COMPOSITION — the oracle recomputes the whole chain in
    SQL (the fetch leg is a proven identity) down to the same
    (doc_id, canonical url, main_text) manifest."""
    from granulate_char_ocr_spark.functions.html import escape_text
    from granulate_char_ocr_spark.operators.crawl import (
        apply_robots,
        robots_rules,
    )
    from granulate_char_ocr_spark.operators.docparse import (
        build_warc_files,
        html_main_texts,
        warc_records,
    )
    from granulate_char_ocr_spark.operators.urlfilter import (
        canonical_url_expr,
        url_quality,
    )

    docs = _t(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", _synth_url_expr().alias("url"), "text"
    )
    mirror = base.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(
            F.col("url"),
            F.when(
                F.col("url").contains("?"), F.lit("&utm_source=mirror")
            ).otherwise(F.lit("?utm_source=mirror")),
        ).alias("url"),
        "text",
    )
    # r6 (guide §4.4's duplication mechanism, expression flavor): without a
    # barrier, CollapseProject + filter-pushdown alias substitution inline
    # the synthetic-URL CASE expression into every URL rule, the keep
    # filter, the canonicalization and the dedup window key — the frontier
    # URL was being recomputed ~20x per row (url_quality alone: 2.7 s vs
    # 0.9 s over a materialized frontier at sf1.0). Materialize the
    # frontier once per invocation; at scale the frontier is a read table
    # and this barrier is the scan itself.
    # widen BEFORE the checkpoint: the union of two single-row-group scans
    # is 2 partitions, so the checkpoint write AND every stage up to the
    # dedup window exchange (url rules, robots apply, canonicalization)
    # would otherwise run on 2 cores
    from granulate_char_ocr_spark.operators.skew import widen_narrow_scan

    allr = widen_narrow_scan(base.unionByName(mirror)).localCheckpoint(
        eager=True
    )
    kept = url_quality(allr, keep_cols=("doc_id", "text")).filter("keep")
    rules = robots_rules(
        spark.createDataFrame(
            _ROBOTS_FILES, "host string, robots_txt string"
        ),
        agent=_ROBOTS_AGENT,
    )
    allowed = apply_robots(
        kept.select("doc_id", "text", "url", "host"), rules
    ).filter("allowed")
    canon = allowed.select(
        "doc_id", canonical_url_expr(F.col("url")).alias("url"), "text"
    )
    # window dedup (one exchange) instead of groupBy-min + join-back,
    # which would re-execute the whole upstream chain for the second
    # reference and add a sort-merge join
    w = Window.partitionBy("url").orderBy("doc_id")
    dedup = (
        canon.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    page = F.concat(
        F.lit(
            '<html><head><title>Doc</title></head><body>'
            '<nav><a href="/">Home</a></nav><p>'
        ),
        escape_text(F.col("text")),
        F.lit("</p><footer>&#169; corp</footer></body></html>"),
    )
    pages = dedup.select(
        F.pmod(F.col("doc_id"), F.lit(32)).cast("int").alias("file_id"),
        "url",
        page.alias("html"),
    )
    recs = warc_records(build_warc_files(pages))
    texts = html_main_texts(
        recs.filter(
            (F.col("rec_type") == "response") & (F.col("http_status") == 200)
        ).select("url", F.decode(F.col("body"), "UTF-8").alias("html")),
        key_col="url",
    )
    # the dedup winner per canonical URL is the base row, whose doc_id
    # IS the path id (/p/<id>) — recovering it from the URL avoids a
    # join back through the fetch boundary
    return texts.select(
        F.regexp_extract("url", r"/p/([0-9]+)$", 1)
        .cast("bigint")
        .alias("doc_id"),
        "url",
        "main_text",
    )


# link-graph synth shared by link_graph_hosts / pagerank_hosts: 97 hosts
# (prime → the functional links d -> (53d+7, 31d+11) mod 97 spread evenly),
# hosts with src%13==5 publish NO outbound links (pure sinks → dangling
# PageRank mass at every sf), self-loops excluded on both sides. The
# Spark side of link_graph_hosts parses links out of REAL HTML (href
# extraction + canonicalization); the oracle derives the same edges from
# the arithmetic directly — an independent derivation, not a mirrored
# transform.
_LG_EDGE_SQL = """
      (SELECT doc_id % 97 AS s, (53 * doc_id + 7) % 97 AS d1,
              (31 * doc_id + 11) % 97 AS d2
       FROM documents)
"""
_LG_EDGES = f"""
      (SELECT s, d1 AS t FROM {_LG_EDGE_SQL} WHERE s % 13 <> 5 AND d1 <> s
       UNION ALL
       SELECT s, d2 AS t FROM {_LG_EDGE_SQL} WHERE s % 13 <> 5 AND d2 <> s)
"""


def _lg_host_expr(i):
    return F.concat(F.lit("h"), i.cast("string"), F.lit(".example.com"))


def _lg_parts():
    did = F.col("doc_id")
    src_i = F.pmod(did, F.lit(97))
    dst1 = F.pmod(did * 53 + 7, F.lit(97))
    dst2 = F.pmod(did * 31 + 11, F.lit(97))
    sink = F.pmod(src_i, F.lit(13)) == 5
    return did, src_i, dst1, dst2, sink


@q(
    "link_graph_hosts",
    f"""
    SELECT 'h' || CAST(s AS VARCHAR) || '.example.com' AS src_host,
           'h' || CAST(t AS VARCHAR) || '.example.com' AS dst_host,
           count(*) AS n_links
    FROM {_LG_EDGES} e
    GROUP BY 1, 2
    """,
)
def link_graph_hosts(spark, sf_dir):
    """Host-level link-graph extraction (r4): each document becomes an
    HTML page whose anchors carry canonicalization traps (scheme/host
    case, default :443 port, tracking query param, fragment, plus a
    relative href that must be dropped); operators/graph.link_edges
    must recover exactly the edge multiset the oracle computes from
    the doc_id arithmetic directly. One scan -> regexp extract ->
    explode -> hash aggregate; zero joins, zero UDFs."""
    from granulate_char_ocr_spark.operators.graph import link_edges

    docs = _tw(spark, sf_dir, "documents")
    did, src_i, dst1, dst2, sink = _lg_parts()
    anchors = F.concat(
        F.lit('<a class="x" href="HTTPS://H'),
        dst1.cast("string"),
        F.lit(".Example.COM:443/p/"),
        did.cast("string"),
        F.lit('?utm_source=feed">l1</a> <a href="https://h'),
        dst2.cast("string"),
        F.lit(".example.com/p/"),
        did.cast("string"),
        F.lit('#frag">l2</a> <a href="/local/nav">rel</a>'),
    )
    page = F.concat(
        F.lit("<html><body><p>"),
        F.substring(F.col("text"), 1, 40),
        F.when(sink, F.lit("")).otherwise(anchors),
        F.lit("</p></body></html>"),
    )
    pages = docs.select(
        _lg_host_expr(src_i).alias("src_host"), page.alias("html")
    )
    return link_edges(pages)


def _pagerank_oracle_sql(iters: int = 8, damping: float = 0.85) -> str:
    """Unrolled power-iteration oracle: DuckDB disallows aggregates in
    recursive CTE terms, so each iteration is its own CTE pair
    (contributions, dangling mass) — byte-for-byte the same arithmetic
    the Spark operator runs, generated for the same depth. Every CTE
    is MATERIALIZED: each r{i} is referenced ~3x downstream, so the
    default inlining expands the plan 3^iters-fold (minutes at depth
    8); materialization keeps the oracle linear in depth."""
    steps = []
    for i in range(1, iters + 1):
        p = f"r{i - 1}"
        steps.append(
            f"""
    c{i} AS MATERIALIZED (
      SELECT e.t AS v, sum(r.rank / g.outdeg) AS contrib
      FROM edges e JOIN {p} r ON e.s = r.v JOIN deg g ON g.s = e.s
      GROUP BY e.t),
    g{i} AS MATERIALIZED (
      SELECT coalesce(sum(r.rank), 0.0) AS dang
      FROM {p} r LEFT JOIN deg g ON r.v = g.s WHERE g.s IS NULL),
    r{i} AS MATERIALIZED (
      SELECT n.v,
             (1.0 - {damping}) / (SELECT n FROM nn)
             + {damping} * (coalesce(c.contrib, 0.0)
                            + (SELECT dang FROM g{i})
                              / (SELECT n FROM nn)) AS rank
      FROM nodes n LEFT JOIN c{i} c ON n.v = c.v)"""
        )
    return (
        f"""
    WITH edges AS MATERIALIZED (SELECT DISTINCT s, t FROM {_LG_EDGES} e0),
    nodes AS MATERIALIZED (
      SELECT DISTINCT v
      FROM (SELECT s AS v FROM edges UNION ALL SELECT t FROM edges)),
    deg AS MATERIALIZED (
      SELECT s, CAST(count(*) AS DOUBLE) AS outdeg FROM edges GROUP BY s),
    nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
    r0 AS MATERIALIZED (
      SELECT v, 1.0 / (SELECT n FROM nn) AS rank FROM nodes),"""
        + ",".join(steps)
        + f"""
    SELECT 'h' || CAST(v AS VARCHAR) || '.example.com' AS host,
           round(rank, 6) AS rank
    FROM r{iters}
    """
    )


@q("pagerank_hosts", _pagerank_oracle_sql())
def pagerank_hosts(spark, sf_dir):
    """Damped PageRank over the synthesized host graph (r4): 8 power
    iterations at d=0.85 with uniform dangling-mass redistribution
    (operators/graph.pagerank — per iteration one equi-join of ranks
    against the weighted edge table, one hash aggregate on dst, one
    bounded global window for the dangling scalar). The oracle unrolls
    the identical arithmetic as chained CTEs; ranks agree to float64
    and are rounded at 6dp for the value hash. The sink hosts
    (src%13==5) exercise the dangling leg at every sf."""
    from granulate_char_ocr_spark.operators.graph import pagerank

    docs = _t(spark, sf_dir, "documents")
    _, src_i, dst1, dst2, sink = _lg_parts()
    src_h = _lg_host_expr(src_i).alias("src_host")
    e1 = docs.filter(~sink & (dst1 != src_i)).select(
        src_h, _lg_host_expr(dst1).alias("dst_host")
    )
    e2 = docs.filter(~sink & (dst2 != src_i)).select(
        src_h, _lg_host_expr(dst2).alias("dst_host")
    )
    pr = pagerank(e1.unionAll(e2), iterations=8, damping=0.85)
    return pr.select("host", F.round("rank", 6).alias("rank"))


# (quality_score_docs left the 50-entry gate window in r4 for
# pagerank_hosts: the quality-scoring shape stays gate-visible via
# quality_filter_docs' Gopher/C4 rules and the clean_corpus_manifest /
# web_corpus_manifest quality legs; exact parity stays pinned by
# tests/test_plans.py::test_quality_score_docs against the oracle below.)
QUALITY_SCORE_ORACLE = f"""
    SELECT doc_id, n_chars_m, punct_ratio, stopword_ratio, mean_token_len,
           round(least(n_chars_m / 500.0, 1.0) * 0.4
                 + least(stopword_ratio * 5.0, 1.0) * 0.4
                 + (1.0 - least(punct_ratio * 10.0, 1.0)) * 0.2, 6) AS quality
    FROM (
      SELECT doc_id, length(text) AS n_chars_m,
             round((length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))
                   / greatest(length(text), 1), 6) AS punct_ratio,
             round(({_hits_sql('en')} + {_hits_sql('es')} + {_hits_sql('fr')}
                    + {_hits_sql('de')})
                   / greatest(len(string_split(text, ' ')), 1), 6) AS stopword_ratio,
             round((length(text) - (len(string_split(text, ' ')) - 1))
                   / greatest(len(string_split(text, ' ')), 1), 6) AS mean_token_len
      FROM documents) t
    """


def quality_score_docs(spark, sf_dir):
    return textstats.quality_score(_t(spark, sf_dir, "documents"))


# (repetition_signals_docs left the 50-entry gate window in r5 — the
# near-duplicate-shape retirement within the per-doc text-stats family
# (VERDICT r4 item 2): the HOF n-gram/aggregate shape stays gate-visible
# via charlm_perplexity_docs and quality_filter_docs. Exact parity stays
# pinned by tests/test_textstats_repetition.py::
# test_repetition_signals_docs_parity against the oracle below.)
REPETITION_SIGNALS_ORACLE = """
    WITH base AS (
      SELECT doc_id, greatest(length(text), 1) AS n_chars,
             len(string_split(text, ' ')) AS n_tokens,
             len(list_distinct(string_split(text, ' '))) AS n_types
      FROM documents),
    toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    counted AS (
      SELECT doc_id, n, gram, count(*) AS cnt FROM (
        SELECT doc_id, nn.n AS n, len(t) AS nt,
               unnest(list_transform(
                 range(1, greatest(len(t) - nn.n + 1, 1) + 1),
                 i -> array_to_string(list_slice(t, i, i + nn.n - 1), ' ')
               )) AS gram
        FROM toks CROSS JOIN (VALUES (2), (3), (5)) AS nn(n)
        WHERE len(t) >= 2)
      WHERE n <= nt GROUP BY 1, 2, 3),
    tops AS (
      SELECT doc_id, n, cnt * length(gram) AS cov,
             row_number() OVER (PARTITION BY doc_id, n
               ORDER BY cnt DESC, length(gram) DESC) AS rn
      FROM counted WHERE n IN (2, 3)),
    dup5 AS (
      SELECT doc_id,
             sum(CASE WHEN cnt > 1 THEN cnt * length(gram) END) AS dup_c,
             sum(cnt * length(gram)) AS tot_c
      FROM counted WHERE n = 5 GROUP BY 1)
    SELECT b.doc_id, b.n_tokens,
           round(1.0 - b.n_types / greatest(b.n_tokens, 1), 6)
             AS dup_word_frac,
           round(coalesce(t2.cov / b.n_chars, 0.0), 6) AS top2_char_frac,
           round(coalesce(t3.cov / b.n_chars, 0.0), 6) AS top3_char_frac,
           round(coalesce(d.dup_c / greatest(d.tot_c, 1), 0.0), 6)
             AS dup5_char_frac
    FROM base b
    LEFT JOIN (SELECT doc_id, cov FROM tops WHERE n = 2 AND rn = 1) t2
      USING (doc_id)
    LEFT JOIN (SELECT doc_id, cov FROM tops WHERE n = 3 AND rn = 1) t3
      USING (doc_id)
    LEFT JOIN dup5 d USING (doc_id)
    """


def repetition_signals_docs(spark, sf_dir):
    """Gopher repetition filters (top-n-gram / duplicate-n-gram char
    fractions — the curation rules every LLM corpus pipeline applies
    next to quality_score's length/stopword heuristics). One explode +
    doc_id-keyed aggregations, no UDF — operators/textstats.py."""
    return textstats.repetition_signals(_tw(spark, sf_dir, "documents"))


@q(
    "charlm_perplexity_docs",
    """
    WITH t AS (SELECT doc_id,
                 regexp_replace(lower(text), '[^a-z ]', '', 'g') AS norm
               FROM documents),
    g AS (SELECT doc_id,
            unnest(CASE WHEN len(norm) >= 3 THEN
              list_transform(range(1, len(norm) - 1),
                             i -> substr(norm, i, 3))
              ELSE [] END) AS tri
          FROM t),
    c3 AS (SELECT tri, count(*) AS c3 FROM g GROUP BY 1),
    c2 AS (SELECT substr(tri, 1, 2) AS ctx, sum(c3) AS c2
           FROM c3 GROUP BY 1),
    s AS (SELECT g.doc_id, count(*) AS n_grams,
            round(exp(-avg(ln(
              (coalesce(c3.c3, 0) + 1) / (coalesce(c2.c2, 0) + 27)
            ))), 4) AS perplexity
          FROM g LEFT JOIN c3 USING (tri)
                 LEFT JOIN c2 ON substr(g.tri, 1, 2) = c2.ctx
          GROUP BY 1)
    SELECT d.doc_id, CAST(coalesce(s.n_grams, 0) AS BIGINT) AS n_grams,
           s.perplexity
    FROM documents d LEFT JOIN s USING (doc_id)
    """,
)
def charlm_perplexity_docs(spark, sf_dir):
    """CCNet-style LM quality scoring (Wenzek et al. 2020): char-trigram
    LM with add-one smoothing trained on the corpus itself, per-doc
    perplexity. The model is ≤27³ rows at any corpus size so both model
    joins broadcast — operators/textstats.py:charlm_perplexity."""
    return textstats.charlm_perplexity(_tw(spark, sf_dir, "documents"))


_DSIR_GRAMS_SQL = """
    SELECT doc_id,
           ('0x' || substr(md5(g), 1, 8))::BIGINT % 1024 AS bucket
    FROM (SELECT doc_id,
            unnest(list_concat(toks,
              CASE WHEN len(toks) >= 2 THEN
                list_transform(range(0, len(toks) - 1),
                  i -> array_to_string(list_slice(toks, i+1, i+2), ' '))
              ELSE [] END)) AS g
          FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM {src}))
    WHERE len(g) > 0
"""


@q(
    "dsir_select_docs",
    f"""
    WITH gr AS ({_DSIR_GRAMS_SQL.format(src="documents")}),
    gt AS ({_DSIR_GRAMS_SQL.format(
        src="(SELECT doc_id, text FROM documents WHERE lang = 'en')")}),
    ct AS (SELECT bucket, count(*) AS ct FROM gt GROUP BY 1),
    cr AS (SELECT bucket, count(*) AS cr FROM gr GROUP BY 1),
    m AS (SELECT bucket,
            ln((coalesce(ct, 0) + 1) /
               ((SELECT sum(ct) FROM ct) + 1024))
          - ln((coalesce(cr, 0) + 1) /
               ((SELECT sum(cr) FROM cr) + 1024)) AS lr
          FROM ct FULL OUTER JOIN cr USING (bucket)),
    s AS (SELECT gr.doc_id, count(*) AS n_grams,
                 round(sum(lr), 6) AS log_weight
          FROM gr JOIN m USING (bucket) GROUP BY 1)
    SELECT d.doc_id, CAST(coalesce(s.n_grams, 0) AS BIGINT) AS n_grams,
           coalesce(s.log_weight, 0.0) AS log_weight,
           round(coalesce(s.log_weight, 0.0) - ln(-ln(
             (('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))
                ::BIGINT + 0.5) / 4294967296.0)), 6) AS sample_key
    FROM documents d LEFT JOIN s USING (doc_id)
    ORDER BY sample_key DESC, d.doc_id
    LIMIT 100
    """,
)
def dsir_select_docs(spark, sf_dir):
    """DSIR data selection (Xie et al. 2023): hashed unigram+bigram bag
    models (target = the corpus's English slice) → per-doc log importance
    weight → Gumbel-top-k selection without replacement. Both models are
    ≤1024 rows at any corpus size (broadcast); the top-k is a
    TakeOrderedAndProject — operators/sampling.py:dsir_select."""
    from granulate_char_ocr_spark.operators.sampling import dsir_select

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    sel = dsir_select(
        docs, None, k=100, target_predicate=F.col("lang") == "en"
    )
    return sel.select("doc_id", "n_grams", "log_weight", "sample_key")


# The synthetic documents carry no real PII (letters-only word soup), so
# the PII gate query injects a deterministic doc_id-derived suffix —
# identical expression on both sides — into 2/3 of the docs before
# redacting: the graded comparison then exercises nonzero match counts
# AND untouched-text passthrough, not a vacuous zero-matches parity.
_PII_INJECT = """
    SELECT doc_id,
           CASE WHEN doc_id % 3 = 0 THEN text
                ELSE text || ' contact user' || doc_id ||
                     '@example.com or 10.' || (doc_id % 200) || '.4.' ||
                     (doc_id % 250) || ' call 555-867-5309' END AS text
    FROM documents
"""


@q(
    "pii_redact_docs",
    f"""
    WITH injected AS ({_PII_INJECT})
    SELECT doc_id,
           CAST(len(regexp_extract_all(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}'))
             AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(text,
             '\\b\\d{{3}}-\\d{{3}}-\\d{{4}}\\b')) AS BIGINT) AS n_phones,
           CAST(len(regexp_extract_all(text,
             '\\b\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\b'))
             AS BIGINT) AS n_ipv4,
           regexp_replace(regexp_replace(regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}',
             '<EMAIL>', 'g'),
             '\\b\\d{{3}}-\\d{{3}}-\\d{{4}}\\b', '<PHONE>', 'g'),
             '\\b\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\b',
             '<IP>', 'g') AS redacted
    FROM injected
    """,
)
def pii_redact_docs(spark, sf_dir):
    """PII scrub (emails/phones/IPv4 counted + masked — the C4/Dolma-
    style publication pass) over documents with deterministically
    injected PII (see _PII_INJECT rationale). Pure per-row projection,
    no shuffle — operators/curation.py."""
    d = F.col("doc_id")
    docs = _t(spark, sf_dir, "documents")
    injected = docs.select(
        "doc_id",
        F.when(d % 3 == 0, F.col("text"))
        .otherwise(
            F.concat(
                "text",
                F.lit(" contact user"),
                d.cast("string"),
                F.lit("@example.com or 10."),
                (d % 200).cast("string"),
                F.lit(".4."),
                (d % 250).cast("string"),
                F.lit(" call 555-867-5309"),
            )
        )
        .alias("text"),
    )
    return curation.pii_redact(injected)


# encoding-repair gate: the base text is all-ASCII (verified against the
# driver's parquet), so non-ASCII is injected arithmetically — one suffix
# per UTF-8 width class: branch 0 = 2-byte (é) + 3-byte chars that ARE
# cp1252 display chars (— €, exercising the display↔C1 translate in both
# directions), branch 1 = CJK incl. 丁/不 whose UTF-8 bytes hit cp1252's
# UNDEFINED positions 0x81/0x8D (the sloppy-cp1252 passthrough), branch
# 2 = 2-byte umlauts + a 4-byte emoji (the F0 lead class), branch 3 =
# pure ASCII (mojibake is the identity there — must NOT flag). Rows with
# doc_id%3=0 are corrupted Spark-side via the forward map; the oracle
# never sees the corruption — expected repaired text is rebuilt from the
# same clean arithmetic, so the detector AND the repair sit under the
# value hash (a false positive on a clean row, a missed repair, or one
# wrong byte all hash-mismatch).
_MOJIBAKE_SUFFIX_SQL = """CASE doc_id % 4
        WHEN 0 THEN ' — café €'
        WHEN 1 THEN ' 你好丁不'
        WHEN 2 THEN ' Grüße 😀'
        ELSE '' END"""


# (fix_mojibake_docs left the 50-entry gate window in r5 — the
# near-duplicate-shape retirement within the per-row-projection family
# (VERDICT r4 item 2): the zero-exchange codegen-repair shape stays
# gate-visible via pii_redact_docs. Exact parity stays pinned by
# tests/test_mojibake.py::test_fix_mojibake_docs_parity against the
# oracle below.)
FIX_MOJIBAKE_ORACLE = f"""
    SELECT doc_id,
           text || {_MOJIBAKE_SUFFIX_SQL} AS repaired,
           (doc_id % 3 = 0 AND doc_id % 4 <> 3) AS was_repaired
    FROM documents
    """


def fix_mojibake_docs(spark, sf_dir):
    """Mojibake repair (r4): UTF-8-read-as-cp1252 corruption is applied
    to every third document (functions/mojibake.mojibake_expr) and the
    pure-codegen repair (curation.repair_mojibake: translate + validity
    regex + encode/decode, no UDF) must restore every byte — emoji,
    em-dash/euro display chars, and the cp1252-undefined 0x81/0x8D
    bytes included — while leaving clean accented/CJK rows untouched.
    Zero exchanges: one scan, one projection."""
    from granulate_char_ocr_spark.functions.mojibake import mojibake_expr

    docs = _tw(spark, sf_dir, "documents")
    d = F.col("doc_id")
    m4 = F.pmod(d, F.lit(4))
    suffix = (
        F.when(m4 == 0, F.lit(" — café €"))
        .when(m4 == 1, F.lit(" 你好丁不"))
        .when(m4 == 2, F.lit(" Grüße 😀"))
        .otherwise(F.lit(""))
    )
    clean = F.concat(F.col("text"), suffix)
    broken = F.when(
        F.pmod(d, F.lit(3)) == 0, mojibake_expr(clean)
    ).otherwise(clean)
    return curation.repair_mojibake(
        docs.select("doc_id", broken.alias("text"))
    )


@q(
    "decontaminate_docs",
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                  FROM documents),
    grams AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, greatest(len(t) - 2, 0) + 1),
               i -> array_to_string(list_slice(t, i, i + 2), ' ')))) AS g
      FROM toks),
    bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0),
    hits AS (
      SELECT g.doc_id, count(*) AS n_shared
      FROM grams g JOIN bench USING (g)
      WHERE g.doc_id % 97 <> 0 GROUP BY 1)
    SELECT d.doc_id,
           CAST(coalesce(h.n_shared, 0) AS BIGINT) AS n_shared_grams,
           CASE WHEN h.n_shared IS NOT NULL THEN 1 ELSE 0
             END AS contaminated
    FROM documents d LEFT JOIN hits h USING (doc_id)
    WHERE d.doc_id % 97 <> 0
    """,
)
def decontaminate_docs(spark, sf_dir):
    """Eval-set decontamination (GPT-3 §C style): flag corpus docs
    sharing any word n-gram with the held-out benchmark slice
    (doc_id % 97 — the driver table has no separate eval table, so a
    deterministic slice plays that role). n=3 because the synthetic
    vocab is tiny; real corpora use 8-13. Benchmark grams broadcast —
    operators/curation.py."""
    docs = _t(spark, sf_dir, "documents")
    return curation.decontaminate(
        docs.where(F.col("doc_id") % 97 != 0),
        docs.where(F.col("doc_id") % 97 == 0),
        n=3,
    )


@q(
    "tfidf_top_terms_docs",
    """
    WITH words AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term
      FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM words
           WHERE term <> '' GROUP BY 1, 2),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    r AS (
      SELECT tf.doc_id, tf.term, tf.tf, df.df,
             row_number() OVER (PARTITION BY tf.doc_id
               ORDER BY tf.tf / df.df DESC, tf.term) AS rnk
      FROM tf JOIN df USING (term))
    SELECT doc_id, term, tf, df, round(tf / df, 6) AS score,
           CAST(rnk AS BIGINT) AS rnk
    FROM r WHERE rnk <= 5
    """,
)
def tfidf_top_terms_docs(spark, sf_dir):
    """Per-doc top-5 keywords by tf/df (rank-equivalent to tf-idf for
    any decreasing idf, exactly orderable across engines — see the
    operator docstring). Vocabulary-sized df table broadcasts back —
    operators/curation.py."""
    return curation.tfidf_top_terms(
        _tw(spark, sf_dir, "documents"), k=5
    )


@q(
    "kmeans_assign_embeddings",
    """
    WITH c AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, embedding AS cv
      FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)
    ),
    d AS (
      SELECT e.vec_id, c.cid,
             list_sum(list_transform(range(1, 65),
               i -> (CAST(e.embedding[i] AS DOUBLE)
                     - CAST(c.cv[i] AS DOUBLE)) ^ 2)) AS dist2
      FROM embeddings e CROSS JOIN c
    ),
    r AS (SELECT vec_id, cid, dist2,
                 row_number() OVER (PARTITION BY vec_id
                                    ORDER BY dist2, cid) AS rn
          FROM d)
    SELECT vec_id, CAST(cid AS INT) AS cluster_id, round(dist2, 4) AS dist2
    FROM r WHERE rn = 1
    """,
)
def kmeans_assign_embeddings(spark, sf_dir):
    """k-means assignment (operators/clustering.py): every embedding to
    its nearest of 8 deterministic seed centroids (the 8 lowest vec_ids —
    no RNG, so the oracle derives identical seeds). The Spark side is a
    pure zero-shuffle projection (literal centroids, array_min argmin);
    the oracle is the naive cross-join argmin DuckDB can afford at this
    scale. dist2 rounded 4dp on both sides (sum fold order differs)."""
    from granulate_char_ocr_spark.operators import clustering

    emb = _t(spark, sf_dir, "embeddings")
    cent = clustering.seed_centroids(emb, 8)
    return clustering.assign(emb, cent).select(
        "vec_id", "cluster_id", F.round("dist2", 4).alias("dist2")
    )


@q(
    "asof_last_purchase_events",
    """
    WITH v AS (SELECT event_id, user_id, epoch_ms(ts) AS ms
               FROM events WHERE event_type = 'view'),
    p AS (SELECT user_id, epoch_ms(ts) AS pms, max(value) AS pvalue
          FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
    SELECT v.event_id, v.user_id, v.ms,
           p.pvalue AS purchase_value,
           v.ms - p.pms AS ms_since_purchase
    FROM v ASOF LEFT JOIN p
      ON v.user_id = p.user_id AND v.ms >= p.pms
    """,
)
def asof_last_purchase_events(spark, sf_dir):
    """As-of join (operators/temporal.py): each view event joined to the
    same user's latest prior-or-equal purchase — the canonical trades-to-
    quotes shape, against DuckDB's native ASOF JOIN. The purchase side is
    pre-aggregated per (user, ms) so duplicate-timestamp winners are
    deterministic on both engines. max(value) passes through raw (an
    aggregate that returns a member value bit-exactly — no rounding)."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "ms", F.unix_millis(F.col("ts").cast("timestamp"))
    )
    views = ev.where(F.col("event_type") == "view").select(
        "event_id", "user_id", "ms"
    )
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ms")
        .agg(F.max("value").alias("pvalue"))
    )
    from granulate_char_ocr_spark.operators import temporal

    return temporal.asof_join(
        views, purchases, on="ms", by=["user_id"], values=["pvalue"]
    ).select(
        "event_id",
        "user_id",
        "ms",
        F.col("pvalue_asof").alias("purchase_value"),
        (F.col("ms") - F.col("ms_asof")).alias("ms_since_purchase"),
    )


# (purchases_within_72h_events left the 50-entry gate window in r4 for
# page_metadata_docs; the bucketed range join keeps a DuckDB-parity
# pytest in test_temporal.py and the temporal family stays gate-visible
# via asof_last_purchase_events.)
PURCHASES_72H_SQL = """
    WITH v AS (SELECT event_id, user_id, epoch_ms(ts) AS ms
               FROM events WHERE event_type = 'view'),
    p AS (SELECT user_id, epoch_ms(ts) AS pms
          FROM events WHERE event_type = 'purchase')
    SELECT v.event_id, v.user_id,
           CAST(count(p.pms) AS BIGINT) AS n_purchases_72h
    FROM v LEFT JOIN p
      ON p.user_id = v.user_id
     AND p.pms >= v.ms AND p.pms < v.ms + 259200000
    GROUP BY 1, 2
    """


def purchases_within_72h_events(spark, sf_dir):
    """Point-in-interval range join (operators/temporal.py): purchases
    landing in each view's [ms, ms+72h) follow-window, counted per view
    with zero-preserving left semantics. Bucket width = window length, so
    each interval explodes to exactly 2 grid rows and the plan is a plain
    equi-join + residual filter — the oracle is the naive non-equi join
    DuckDB can afford at this scale."""
    from granulate_char_ocr_spark.operators import temporal

    window_ms = 72 * 3600 * 1000
    ev = _t(spark, sf_dir, "events").withColumn(
        "ms", F.unix_millis(F.col("ts").cast("timestamp"))
    )
    views = ev.where(F.col("event_type") == "view").select(
        "event_id",
        "user_id",
        F.col("ms").alias("start_ms"),
        (F.col("ms") + window_ms).alias("end_ms"),
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("ms").alias("pms")
    )
    counts = (
        temporal.range_join(
            purchases,
            views,
            point_on="pms",
            start_on="start_ms",
            end_on="end_ms",
            by=["user_id"],
            bucket_width=window_ms,
        )
        .groupBy("event_id", "user_id")
        .agg(F.count("*").alias("_n"))
    )
    return views.join(counts, ["event_id", "user_id"], "left").select(
        "event_id",
        "user_id",
        F.coalesce("_n", F.lit(0)).cast("bigint").alias("n_purchases_72h"),
    )


# (fingerprint_docs was retired from the 50-entry gate window in r3 in
# favor of ocr_extract_compressed: textstats.fingerprint stays
# pytest-covered, and its md5-key semantics are gate-covered by
# dedup_exact + winnow_fingerprints_docs.)


@q(
    "bpe_token_count_docs",
    # n_bpe_merged joins the golden parquet generated by the Python twin
    # of the same merges-table encode (functions/bpe.py) — tier-pinned to
    # sf0.01 like the ocr_* goldens; the regex columns stay mirrored SQL
    "__BPE_ORACLE__",  # placeholder — rewritten below once paths exist
)
def bpe_token_count_docs(spark, sf_dir):
    """BPE-ish regex token budget (pipeline brief) + whitespace tokens +
    distinct types (absorbing the former token_count_docs entry);
    leftmost-first alternation matches identically in Java regex and
    RE2. n_bpe_merged (VERDICT r3 item 5) is the REAL trained-BPE count:
    the committed merges table applied per pre-token in an Arrow-batched
    pandas UDF with executor-singleton ranks + word cache."""
    return textstats.bpe_token_count(
        _t(spark, sf_dir, "documents"), merged=True
    )


def _winnow_sql(k: int = 5, w: int = 4) -> str:
    return rf"""
    WITH n AS (SELECT doc_id,
                      lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS norm
               FROM documents),
    h AS (SELECT doc_id,
                 list_transform(
                   list_filter(
                     list_transform(range(1, greatest(length(norm) - {k - 1}, 1) + 1),
                                    i -> substr(norm, i, {k})),
                     g -> length(g) = {k}),
                   g -> ('0x' || substr(md5(g), 1, 8))::BIGINT) AS hashes
          FROM n),
    wv AS (SELECT doc_id,
                  CASE WHEN len(hashes) >= {w}
                       THEN list_distinct(list_transform(
                              range(1, len(hashes) - {w - 1} + 1),
                              j -> list_min(hashes[j:j + {w - 1}])))
                       ELSE [] END AS fps
           FROM h)
    SELECT doc_id, unnest(fps) AS fp FROM wv
    """


# (winnow_fingerprints_docs left the 50-entry gate window in r5 — it
# was the board's largest compare (44 075 rows at sf0.01) and its
# explode-then-window shape stays gate-visible via tfidf_top_terms_docs
# and vocab_kmv_docs. Exact parity stays pinned by
# tests/test_textstats_repetition.py::test_winnow_fingerprints_parity
# against the oracle below.)
WINNOW_ORACLE = _winnow_sql()


def winnow_fingerprints_docs(spark, sf_dir):
    """Winnowed k-gram rolling-hash fingerprints (MOSS primitive)."""
    return textstats.winnow_fingerprints(_t(spark, sf_dir, "documents"))


@q(
    "clean_corpus_manifest",
    f"""
    WITH q AS (
      SELECT doc_id, lang,
             round(least(length(text) / 500.0, 1.0) * 0.4
                   + least(round(({_hits_sql('en')} + {_hits_sql('es')}
                                  + {_hits_sql('fr')} + {_hits_sql('de')})
                                 / greatest(len(string_split(text, ' ')), 1), 6)
                           * 5.0, 1.0) * 0.4
                   + (1.0 - least(round((length(text)
                        - length(regexp_replace(text, '[.,!?;:]', '', 'g')))
                        / greatest(length(text), 1), 6) * 10.0, 1.0)) * 0.2,
                   6) AS quality
      FROM documents),
    keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text))
    SELECT q.doc_id, q.lang, q.quality
    FROM q
    JOIN keep ON q.doc_id = keep.doc_id
    WHERE q.quality >= 0.5
      AND ('0x' || substr(md5(CAST(q.doc_id AS VARCHAR)), 1, 8))::BIGINT % 100
          < CASE WHEN q.lang = 'en' THEN 30 ELSE 90 END
    """,
)
def clean_corpus_manifest(spark, sf_dir):
    """The training-data pipeline END TO END as one plan: quality scoring →
    exact-dedup keeper join → per-language stratified downsampling — the
    composition a real data-curation run executes, not just its individual
    legs. All three stages are the operators above, so the whole manifest
    keeps an exact oracle."""
    from granulate_char_ocr_spark.operators.dedup import exact_dedup
    from granulate_char_ocr_spark.operators.sampling import stratified_sample

    docs = _tw(spark, sf_dir, "documents")
    scored = textstats.quality_score(docs).select("doc_id", "quality")
    keep = exact_dedup(docs).select(F.col("keep_id").alias("doc_id"))
    base = docs.select("doc_id", "lang").join(scored, "doc_id").join(keep, "doc_id")
    return stratified_sample(
        base.filter(F.col("quality") >= 0.5),
        "doc_id",
        "lang",
        {"en": 30},
        default_pct=90,
    ).select("doc_id", "lang", "quality")


def _alphabet_values_sql() -> str:
    from granulate_char_ocr_spark.alphabet import GRANULATE_TO_LATIN

    rows = ", ".join(
        f"('{g}', '{l}')" for g, l in GRANULATE_TO_LATIN.items()
    )
    return f"(VALUES {rows}) AS a(granulate_symbol, mapped_latin)"


@q(
    "alphabet_translate_initials",
    f"""
    SELECT d.doc_id, upper(substr(d.text, 1, 1)) AS initial,
           a.granulate_symbol
    FROM documents d
    LEFT JOIN {_alphabet_values_sql()}
      ON upper(substr(d.text, 1, 1)) = a.mapped_latin
    WHERE d.doc_id < 300
    """,
)
def alphabet_translate_initials(spark, sf_dir):
    """Broadcast lookup against the 36-row Granulate↔Latin mapping (SURVEY
    §2.3 J2, §2.1 S6): each doc's initial letter → its Granulate symbol."""
    from granulate_char_ocr_spark.operators.validate import alphabet_table

    d = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 300)
        .select(
            "doc_id", F.upper(F.substring("text", 1, 1)).alias("initial")
        )
    )
    alpha = alphabet_table(spark)
    return d.join(
        F.broadcast(alpha), d.initial == alpha.mapped_latin, "left"
    ).select("doc_id", "initial", "granulate_symbol")


# =============================================================================
# C. the OCR extraction engine itself — oracle-checked against a committed
#    golden parquet of the expected spans (the synthetic corpus is a pure
#    function of (n_docs, seed), so the golden is exact, not approximate).
#    The driver runs the oracle compare at sf0.01 → n_docs=800 goldens.
# =============================================================================

import os as _os

_SF_DOCS = {"sf0.001": 200, "sf0.01": 800, "sf0.1": 2000}
_ORACLE_N_DOCS = _SF_DOCS["sf0.01"]  # the driver's oracle-compare tier

_PKG_DIR = _os.path.dirname(_os.path.abspath(__file__))
_GOLDEN_DIR = _os.path.join(_os.path.dirname(_PKG_DIR), "dist", "golden")


def _fingerprint(*sources: str) -> str:
    """Content key of the source files a golden parquet is a function of
    (paths relative to the package, or absolute). ADVICE r2: a filename
    keyed only on n_docs lets a stale golden survive a generator/kernel
    change silently; with the key in the filename, any edit to these
    sources names a new file, and the golden regenerates on next import."""
    import hashlib as _hashlib

    h = _hashlib.md5()
    for src in sources:
        with open(_os.path.join(_PKG_DIR, src), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:10]


def _golden(name: str) -> str:
    return _os.path.join(_GOLDEN_DIR, f"{name}.parquet")


def _write_golden(path: str, frame, fields) -> None:
    import pyarrow as _pa

    from granulate_char_ocr_spark.sources.synthetic import (
        write_parquet_atomic,
    )

    write_parquet_atomic(
        _pa.Table.from_pandas(
            frame, schema=_pa.schema(fields), preserve_index=False
        ),
        path,
    )


# the OCR goldens are a function of the generator and the whole kernel
# chain that produced the expected spans
_GOLDEN_FP = _fingerprint(
    "sources/synthetic.py",
    "functions/kernels.py",
    "functions/text.py",
    "alphabet.py",
)
_GOLDEN_FLAT = _golden(f"ocr_expected_flat_{_ORACLE_N_DOCS}_{_GOLDEN_FP}")
_GOLDEN_INK = _golden(f"media_ink_bits_{_GOLDEN_FP}")
_GOLDEN_NOISY = _golden(f"ocr_expected_noisy_{_ORACLE_N_DOCS}_{_GOLDEN_FP}")
_GOLDEN_MULTIROW = _golden(
    f"ocr_expected_multirow_{_ORACLE_N_DOCS}_{_GOLDEN_FP}"
)


def _build_ink(path: str) -> None:
    """Ink-bit count of every glyph media row (aHash bit sum)."""
    import numpy as _np
    import pyarrow as _pa

    from granulate_char_ocr_spark.functions.kernels import ahash_bits
    from granulate_char_ocr_spark.sources.synthetic import glyph_media_pandas

    rows = [
        (
            r.media_ref,
            float(
                ahash_bits(
                    _np.frombuffer(r.pixels, dtype=_np.uint8).reshape(
                        r.height, r.width
                    )
                ).sum()
            ),
        )
        for r in glyph_media_pandas().itertuples(index=False)
    ]
    _write_golden(
        path,
        pd.DataFrame(rows, columns=["media_ref", "n_ink_bits"]),
        [("media_ref", _pa.string()), ("n_ink_bits", _pa.float64())],
    )


_ORACLE_SF_DIR = "/root/testdata/sf0.01"  # the driver's compare tier


def _build_bpe(path: str) -> None:
    """Merged-BPE counts of the sf0.01 documents table via the Python
    twin (functions/bpe.count_tokens — the byte-identical logic the
    pandas UDF runs). Skipped when the testdata tier is absent."""
    doc_path = _os.path.join(_ORACLE_SF_DIR, "documents.parquet")
    if not _os.path.exists(doc_path):
        return
    import duckdb as _duckdb
    import pyarrow as _pa

    from granulate_char_ocr_spark.functions.bpe import (
        count_tokens,
        load_ranks,
    )

    rows = _duckdb.sql(
        f"SELECT doc_id, text FROM '{doc_path}' ORDER BY doc_id"
    ).fetchall()
    ranks, cache = load_ranks(), {}
    out = pd.DataFrame(
        {
            "doc_id": [r[0] for r in rows],
            "n_bpe_merged": [count_tokens(r[1], ranks, cache) for r in rows],
        }
    )
    _write_golden(
        path, out, [("doc_id", _pa.int64()), ("n_bpe_merged", _pa.int64())]
    )


def _build_audio(path: str) -> None:
    """Log-mel feature sums of the synthetic WAV store via the Python
    twin — the SAME decode_wav + mel_features chain the Arrow kernel
    runs, with the feature-sum left fold matching Spark's F.aggregate
    order, so the doubles are bit-identical (no rounding needed)."""
    import pyarrow as _pa

    from granulate_char_ocr_spark.functions.audio import mel_features
    from granulate_char_ocr_spark.functions.wav import decode_wav
    from granulate_char_ocr_spark.sources.synthetic import audio_store_pandas

    rows = []
    for r in audio_store_pandas().itertuples(index=False):
        mono, rate = decode_wav(bytes(r.payload))
        feat = mel_features(mono.astype("float64"), float(rate))
        s = 0.0
        for v in feat:
            s += float(v)
        rows.append((r.media_ref, len(mono) / float(rate), s))
    _write_golden(
        path,
        pd.DataFrame(rows, columns=["media_ref", "duration_sec", "mel_sum"]),
        [
            ("media_ref", _pa.string()),
            ("duration_sec", _pa.float64()),
            ("mel_sum", _pa.float64()),
        ],
    )


def _build_stream(path: str) -> None:
    """Generator ground truth of the mixed-stream store: the expected
    metadata columns are the CONSTRUCTION parameters (spec math — frame
    counts × samples-per-frame / rate, mvhd ticks / timescale, avih
    microseconds-per-frame, SPS macroblock geometry). Independent of the
    probe parsers the gate query runs."""
    import pyarrow as _pa

    from granulate_char_ocr_spark.sources.synthetic import stream_media_pandas

    _write_golden(
        path,
        stream_media_pandas().drop(columns=["payload"]),
        [
            ("media_ref", _pa.string()),
            ("format", _pa.string()),
            ("duration_sec", _pa.float64()),
            ("sample_rate", _pa.int32()),
            ("channels", _pa.int32()),
            ("bitrate_kbps", _pa.float64()),
            ("vbr", _pa.bool_()),
            ("width", _pa.int32()),
            ("height", _pa.int32()),
            ("profile_level", _pa.string()),
            ("n_frames", _pa.int32()),
        ],
    )


def _synthetic_golden(writer: str, **kwargs):
    def build(path: str) -> None:
        from granulate_char_ocr_spark.sources import synthetic

        getattr(synthetic, writer)(path, _ORACLE_N_DOCS, **kwargs)

    return build


from granulate_char_ocr_spark.functions.bpe import (  # noqa: E402
    MERGES_PATH as _BPE_MERGES,
)

_GOLDEN_BPE = _golden(
    "bpe_merged_" + _fingerprint("functions/bpe.py", _BPE_MERGES)
)
_GOLDEN_AUDIO = _golden(
    "audio_mel_"
    + _fingerprint(
        "functions/audio.py", "functions/wav.py", "sources/synthetic.py"
    )
)
# generator ground truth (construction parameters via published container
# math), NOT a parser twin: keyed on the generator alone, so a probe change
# that breaks agreement FAILS the gate rather than regenerating the golden
_GOLDEN_STREAM = _golden(
    "stream_truth_" + _fingerprint("sources/synthetic.py")
)

# (golden, builder) in build order
_GOLDENS = (
    (_GOLDEN_NOISY, _synthetic_golden("write_golden_noisy", seed=42)),
    (_GOLDEN_MULTIROW, _synthetic_golden("write_golden_multirow")),
    (_GOLDEN_FLAT, _synthetic_golden("write_golden_flat", seed=42)),
    (_GOLDEN_INK, _build_ink),
    (_GOLDEN_BPE, _build_bpe),
    (_GOLDEN_AUDIO, _build_audio),
    (_GOLDEN_STREAM, _build_stream),
)


def _ensure_goldens() -> None:
    """Materialize the golden parquets the oracle SQL reads (idempotent;
    filenames carry their sources' fingerprint, so a golden built from
    older sources is never read — and is deleted here)."""
    import glob as _glob

    live = {_os.path.basename(path) for path, _ in _GOLDENS}
    for old in _glob.glob(_os.path.join(_GOLDEN_DIR, "*.parquet")):
        if _os.path.basename(old) not in live:
            try:
                _os.unlink(old)
            except OSError:
                pass
    for path, build in _GOLDENS:
        if not _os.path.exists(path):
            build(path)


_ensure_goldens()

ORACLES["bpe_token_count_docs"] = rf"""
    SELECT d.doc_id,
           CAST(len(regexp_extract_all(d.text,
             ' ?\p{{L}}+| ?\p{{N}}+| ?[^\p{{L}}\p{{N}} \t\r\n]+|[ \t\r\n]+')) AS INTEGER)
             AS n_bpe_tokens,
           CAST(len(string_split(d.text, ' ')) AS INTEGER) AS n_ws_tokens,
           CAST(len(list_distinct(string_split(d.text, ' '))) AS INTEGER)
             AS n_types,
           CAST(g.n_bpe_merged AS BIGINT) AS n_bpe_merged
    FROM documents d JOIN '{_GOLDEN_BPE}' g ON d.doc_id = g.doc_id
    """


def _ocr_corpus(spark, sf_dir):
    from granulate_char_ocr_spark.sources.synthetic import corpus_spark

    n = _SF_DOCS.get(sf_name_of(sf_dir), 400)
    return corpus_spark(spark, n, seed=42)


_FLAT_SPAN_ORACLE = f"""
SELECT doc_id, "order", kind, text, media_ref
FROM '{_GOLDEN_FLAT}'
"""


@q("ocr_extract_documents", _FLAT_SPAN_ORACLE)
def ocr_extract_documents(spark, sf_dir):
    """The flagship extraction job, projected to flat primitive rows
    (doc_id, order, kind, text, media_ref) so the driver's canonicalizer can
    sort and hash them (VERDICT r1: nested array<struct> is unhashable in
    pandas). The nested document shape stays in entry() / extract_documents."""
    from granulate_char_ocr_spark.operators.stitch import explode_expected
    from granulate_char_ocr_spark.plans.pipeline import extract_documents

    docs, media, _ = _ocr_corpus(spark, sf_dir)
    return explode_expected(extract_documents(docs, media))


# (ocr_extract_salted left the 50-entry gate window in r4 for
# fix_mojibake_docs: its OUTPUT is value-identical to the still-graded
# ocr_extract_documents by construction — pinned every run by
# tests/test_pipeline.py::test_dedup_and_salted_paths_agree against the
# same golden oracle — so grading it added no value coverage, only a
# duplicate hash of the same rows; the salted PLAN's distinct shape
# (key-only exchange + explicit partition counts) stays exercised by
# bench.py's dedicated ocr_extract_salted timing and carries the
# N-vs-4N scaling evidence in BENCH/scaling.json.)
def ocr_extract_salted(spark, sf_dir):
    """The north rule's literal doc_id-salted per-span extraction path
    (dedup_media=False); output must equal ocr_extract_documents (pinned by
    tests/test_pipeline.py::test_dedup_and_salted_paths_agree). No longer
    @q-registered; tools/dump_plans.py resolves it by module attribute."""
    from granulate_char_ocr_spark.operators.stitch import explode_expected
    from granulate_char_ocr_spark.plans.pipeline import extract_documents

    docs, media, _ = _ocr_corpus(spark, sf_dir)
    return explode_expected(
        extract_documents(docs, media, dedup_media=False, n_salts=8)
    )


@q("ocr_extract_compressed", _FLAT_SPAN_ORACLE)
def ocr_extract_compressed(spark, sf_dir):
    """The flagship extraction over a COMPRESSED media store: payloads
    cycle through every lossless still format — PNG (filter types +
    Adam7), GIF, G4 fax TIFF, LZW TIFF, BMP — and sniff-decode through
    multimodal.decode_media_store before the kernel stage; the real
    corpus shape, where images arrive as encoded files, not raw buffers.
    All formats are lossless, so the output must equal
    ocr_extract_documents exactly (same golden oracle)."""
    from granulate_char_ocr_spark.operators.multimodal import (
        decode_media_store,
    )
    from granulate_char_ocr_spark.operators.stitch import explode_expected
    from granulate_char_ocr_spark.plans.pipeline import extract_documents
    from granulate_char_ocr_spark.sources.synthetic import (
        docs_spark,
        png_media_spark,
    )

    n = _SF_DOCS.get(sf_name_of(sf_dir), 400)
    docs = docs_spark(spark, n, seed=42)
    media = decode_media_store(png_media_spark(spark))
    return explode_expected(extract_documents(docs, media))


@q(
    "ocr_eval_metrics",
    f"""
    SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(1.0 AS DOUBLE) AS word_accuracy,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS perfect_docs,
           CAST(1.0 AS DOUBLE) AS span_equality,
           CAST(1.0 AS DOUBLE) AS char_accuracy
    FROM '{_GOLDEN_FLAT}'
    """,
)
def ocr_eval_metrics(spark, sf_dir):
    """Span/char/word accuracy vs the golden fixtures. The oracle pins the
    accuracies at exactly 1.0 (the clean corpus must extract perfectly) and
    derives the counts from the same golden parquet."""
    from granulate_char_ocr_spark.plans.lineage import evaluate
    from granulate_char_ocr_spark.plans.pipeline import extract_documents

    docs, media, expected = _ocr_corpus(spark, sf_dir)
    return evaluate(extract_documents(docs, media), expected)


@q(
    "mm_image_embeddings",
    f"SELECT media_ref, n_ink_bits FROM '{_GOLDEN_INK}'",
)
def mm_image_embeddings(spark, sf_dir):
    """Multimodal: 64-d aHash embeddings over the media store (pixel UDF →
    rows-only check); output feeds operators/similarity.py."""
    from granulate_char_ocr_spark.operators import multimodal
    from granulate_char_ocr_spark.sources.synthetic import glyph_media_pandas

    pdf = glyph_media_pandas().rename(columns={"pixels": "payload"})
    pdf["modality"], pdf["codec"] = "image", "raw"
    pdf["n_frames"], pdf["sample_rate"] = 1, 0
    images = spark.createDataFrame(
        pdf[
            ["media_ref", "modality", "codec", "width", "height",
             "n_frames", "sample_rate", "payload"]
        ],
        schema=multimodal.MULTIMODAL_SCHEMA,
    )
    emb = multimodal.image_embeddings(images)
    return emb.select(
        "media_ref",
        F.aggregate("embedding", F.lit(0.0), lambda a, x: a + x).alias("n_ink_bits"),
    )


@q(
    "mm_audio_features",
    f"SELECT media_ref, duration_sec, mel_sum FROM '{_GOLDEN_AUDIO}'",
)
def mm_audio_features(spark, sf_dir):
    """Multimodal audio (VERDICT r3 item 6): the synthetic WAV store —
    rendered on executors, sniffed through the RIFF header — runs the
    REAL log-mel front-end (framed Hann STFT → mel filterbank → log,
    functions/audio.py) inside the mapInPandas plumbing; graded against
    the Python-twin golden (duration + the feature-vector left-fold sum,
    bit-identical doubles)."""
    from granulate_char_ocr_spark.operators import multimodal
    from granulate_char_ocr_spark.sources.synthetic import audio_store_spark

    feats = multimodal.audio_features(audio_store_spark(spark))
    return feats.select(
        "media_ref",
        "duration_sec",
        F.aggregate("features", F.lit(0.0), lambda a, x: a + x).alias(
            "mel_sum"
        ),
    )


@q(
    "media_stream_info_store",
    f"""
    SELECT media_ref, format, duration_sec, sample_rate, channels,
           bitrate_kbps,
           coalesce(CAST(vbr AS INTEGER), -1) AS vbr_flag,
           width, height, profile_level, n_frames
    FROM '{_GOLDEN_STREAM}'
    """,
)
def media_stream_info_store(spark, sf_dir):
    """Stream-probe routing pass (VERDICT r4 item 6 — the probes' first
    gate row): MP3 frame-header walk, H.264 SPS parse, MP4 box walk,
    WAV/AVI RIFF probes and the still-image geometry router over the
    mixed synthetic store, INCLUDING unrecognized-noise and NULL-payload
    rows (which must keep their row with format NULL). Oracle: the
    store generator's own construction parameters (golden parquet) —
    ground truth the parsers never see. One Arrow-batched mapInPandas
    stage, zero shuffles; at 100 TB this runs over the distinct media
    store so cost is per unique blob."""
    from granulate_char_ocr_spark.operators import multimodal
    from granulate_char_ocr_spark.sources.synthetic import (
        stream_media_pandas,
    )

    pdf = stream_media_pandas()[["media_ref", "payload"]]
    media = spark.createDataFrame(
        pdf, schema="media_ref string, payload binary"
    )
    info = multimodal.media_stream_info(media)
    # nullable booleans hash differently across the pandas bridge
    # (None vs NaN) — project the tri-state as an int on both sides
    return info.select(
        "media_ref", "format", "duration_sec", "sample_rate", "channels",
        "bitrate_kbps",
        F.coalesce(F.col("vbr").cast("int"), F.lit(-1)).alias("vbr_flag"),
        "width", "height", "profile_level", "n_frames",
    )


@q(
    "ocr_word_length_analysis",
    f"""
    SELECT CAST(length(text) AS INTEGER) AS word_len,
           count(*) AS n_words,
           CAST(1.0 AS DOUBLE) AS mean_confidence,
           array_to_string(list_sort(list(DISTINCT text))[1:3], ',') AS examples
    FROM '{_GOLDEN_FLAT}' WHERE kind = 'media'
    GROUP BY 1
    """,
)
def ocr_word_length_analysis(spark, sf_dir):
    """EP3 word-length grouped analysis over extracted media spans (SURVEY
    §2.4 A7, evaluate_new_testdata.py:100-134): count + mean confidence per
    recognized-word length, with 3 sorted examples. Oracle: the golden spans
    (mean_confidence pinned at 1.0 — clean corpus is all exact_hash)."""
    from granulate_char_ocr_spark.plans.pipeline import extract_flat

    docs, media, _ = _ocr_corpus(spark, sf_dir)
    flat = extract_flat(docs, media, detail=False)
    return (
        flat.filter(F.col("kind") == "media")
        .groupBy(F.col("n_chars").alias("word_len"))
        .agg(
            F.count("*").alias("n_words"),
            F.round(F.avg("avg_confidence"), 6).alias("mean_confidence"),
            F.concat_ws(
                ",", F.slice(F.sort_array(F.collect_set("text")), 1, 3)
            ).alias("examples"),
        )
    )


@q(
    "ocr_result_json_roundtrip",
    f"""
    SELECT DISTINCT media_ref AS image_id,
           text AS text_rt,
           CAST(1.0 AS DOUBLE) AS avg_conf_rt,
           CAST(length(text) AS INTEGER) AS n_characters
    FROM '{_GOLDEN_FLAT}' WHERE kind = 'media'
    """,
)
def ocr_result_json_roundtrip(spark, sf_dir):
    """The public OCRResult.to_dict JSON projection (reference
    ocr_result.py:24-39), proven by serialize→parse round trip: the query
    emits fields parsed BACK out of result_json, checked against the golden
    spans (clean corpus → every media_ref's text and confidence pinned)."""
    from granulate_char_ocr_spark.operators.extract import extract_unique_media
    from granulate_char_ocr_spark.operators.results import ocr_result_json
    from granulate_char_ocr_spark.plans.pipeline import (
        explode_spans,
        unique_media_repartitioned,
    )

    docs, media, _ = _ocr_corpus(spark, sf_dir)
    used = unique_media_repartitioned(
        explode_spans(docs).filter(F.col("kind") == "media"),
        F.broadcast(media),
    )
    res = ocr_result_json(
        extract_unique_media(used), timestamp="2026-01-01T00:00:00.000000"
    )
    return res.select(
        F.get_json_object("result_json", "$.image_id").alias("image_id"),
        F.get_json_object("result_json", "$.text").alias("text_rt"),
        F.get_json_object("result_json", "$.average_confidence")
        .cast("double")
        .alias("avg_conf_rt"),
        F.from_json(
            F.col("result_json"),
            "struct<characters:array<struct<latin_equivalent:string>>>",
        )["characters"]
        .alias("_chars"),
    ).select(
        "image_id",
        "text_rt",
        F.round("avg_conf_rt", 6).alias("avg_conf_rt"),
        F.size("_chars").alias("n_characters"),
    )


@q(
    "ocr_method_histogram",
    f"""
    SELECT 'exact_hash' AS method,
           CAST(sum(length(text)) AS BIGINT) AS n,
           CAST(1.0 AS DOUBLE) AS avg_confidence
    FROM '{_GOLDEN_FLAT}' WHERE kind = 'media'
    """,
)
def ocr_method_histogram(spark, sf_dir):
    """Recognition-method histogram (SURVEY §2.4 A11) over extracted chars.
    Oracle: on the clean corpus every char resolves via exact_hash at
    confidence 1.0, so the histogram is one pinned row with n = total golden
    media chars."""
    from granulate_char_ocr_spark.plans.pipeline import extract_flat

    docs, media, _ = _ocr_corpus(spark, sf_dir)
    flat = extract_flat(docs, media)
    return (
        flat.filter(F.col("kind") == "media")
        .select(F.explode("chars").alias("c"))
        .groupBy(F.col("c.method").alias("method"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("c.confidence"), 6).alias("avg_confidence"),
        )
    )


@q(
    "ocr_extract_noisy",
    f"""
    SELECT doc_id, "offset", media_ref, text, methods
    FROM '{_GOLDEN_NOISY}'
    """,
)
def ocr_extract_noisy(spark, sf_dir):
    """The ROBUST extraction path at the driver gate (VERDICT r2 item 2):
    salt-and-pepper media variants through ``extract_flat(noisy=True)`` —
    Gaussian/Otsu/deskew preprocess, adjacent-region merge, and the
    multi-binarization vote tier for cascade rejects (reference
    ocr_service_backup.py; extract_from_reference.py:352-356). ``methods``
    lists the distinct cascade tiers each span used; 'vote' appears in the
    golden. Oracle: engine-derived per distinct image via the local
    ``recognize_word(noisy=True)`` kernel (accuracy is separately bounded by
    tests/test_noisy_pipeline.py); this row pins distributed-plan parity —
    Arrow batching, dedup join, span re-attach."""
    from granulate_char_ocr_spark.plans.pipeline import extract_flat
    from granulate_char_ocr_spark.sources.synthetic import noisy_corpus_spark

    n = _SF_DOCS.get(sf_name_of(sf_dir), 400)
    docs, media = noisy_corpus_spark(spark, n, seed=42)
    flat = extract_flat(docs, media, noisy=True, detail=True)
    return flat.filter(F.col("kind") == "media").select(
        "doc_id",
        "offset",
        "media_ref",
        "text",
        F.concat_ws(
            ",", F.sort_array(F.array_distinct(F.col("chars.method")))
        ).alias("methods"),
    )


@q(
    "ocr_extract_multirow",
    f"""
    SELECT doc_id, "offset", media_ref, text
    FROM '{_GOLDEN_MULTIROW}'
    """,
)
def ocr_extract_multirow(spark, sf_dir):
    """Connected-component segmentation with row clustering at the driver
    gate (VERDICT r2 item 3): stacked two-row word images — the layout a
    pure column projection provably cannot separate (reference
    extract_from_reference.py:108-132 y-gap row split) — through
    ``extract_flat(segmenter='cc')``. Oracle: generator-derived (clean
    corpus, cc reading-order recovery is exact: text = row1word+row2word,
    pinned across all cycled pairs by tests/test_multirow.py)."""
    from granulate_char_ocr_spark.plans.pipeline import extract_flat
    from granulate_char_ocr_spark.sources.synthetic import multirow_corpus_spark

    n = _SF_DOCS.get(sf_name_of(sf_dir), 400)
    docs, media = multirow_corpus_spark(spark, n)
    flat = extract_flat(docs, media, segmenter="cc", detail=False)
    return flat.filter(F.col("kind") == "media").select(
        "doc_id", "offset", "media_ref", "text"
    )
