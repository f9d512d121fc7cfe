"""Gopher document/line filters and the C4 line filter, fused in
curation.quality_filter (column builders in operators/textstats.py and
operators/curation.py) — rule-by-rule semantics and exact DuckDB parity."""

from pyspark.sql import functions as F

from granulate_char_ocr_spark.operators import curation, textstats

_GOPHER = ("n_words", "mean_word_len", "symbol_ratio", "frac_alpha_words",
           "n_req_stopwords", "gopher_pass")
_LINE = ("n_lines", "frac_bullet_lines", "frac_ellipsis_lines", "line_pass")
_C4 = ("n_lines", "n_kept", "clean_text", "has_lorem", "has_brace", "c4_pass")


def _gopher_flags(docs):
    """The document-level Gopher columns of the fused quality gate."""
    return curation.quality_filter(docs).select("doc_id", *_GOPHER)


def _line_flags(dl):
    """quality_filter's line-level Gopher family over a lines column."""
    return dl.select(
        "doc_id", *(c.alias(n) for n, c in curation.gopher_line_cols().items())
    ).withColumn("line_pass", curation.line_pass_col())


def _c4_flags(dl, min_kept_lines=3):
    """quality_filter's C4 family over a lines column."""
    return dl.select(
        "doc_id",
        F.size("lines").alias("n_lines"),
        *(c.alias(n) for n, c in curation.c4_cols().items()),
    ).withColumn("c4_pass", curation.c4_pass_col(min_kept_lines))


def test_gopher_quality_flags_each_rule(spark):
    docs = spark.createDataFrame(
        [
            (1, " ".join(["word"] * 60) + " the of"),        # all rules pass
            (2, "short text the of"),                        # n_words < 50
            (3, " ".join(["a"] * 60) + " the of"),           # mean_word_len < 3
            (4, " ".join(["word"] * 60) + " the of " + "# " * 9),  # symbols
            (5, " ".join(["1234"] * 60) + " the of"),        # alpha frac < 0.8
            (6, " ".join(["word"] * 60)),                    # no stopwords
        ],
        "doc_id bigint, text string",
    )
    got = {r["doc_id"]: r.asDict() for r in _gopher_flags(docs).collect()}
    assert got[1]["gopher_pass"] is True
    assert got[1]["n_words"] == 62 and got[1]["n_req_stopwords"] == 2
    assert got[2]["gopher_pass"] is False and got[2]["n_words"] == 4
    assert got[3]["gopher_pass"] is False and got[3]["mean_word_len"] < 3
    assert got[4]["gopher_pass"] is False and got[4]["symbol_ratio"] > 0.1
    assert got[5]["gopher_pass"] is False and got[5]["frac_alpha_words"] < 0.8
    assert got[6]["gopher_pass"] is False and got[6]["n_req_stopwords"] == 0


def test_gopher_symbol_counting(spark):
    # '…', '#', and literal '...' all count; '....' is ONE non-overlapping
    # '...' match (plus no '…'), in both engines' regex semantics
    docs = spark.createDataFrame(
        [(1, "a # b … c ... d ....")], "doc_id bigint, text string"
    )
    row = _gopher_flags(docs).collect()[0]
    # tokens: a # b … c ... d .... -> 8 words; symbols: # + … + '...' + '....'(1) = 4
    assert row["n_words"] == 8
    assert row["symbol_ratio"] == round(4 / 8, 6)


_GOPHER_SQL = """
    WITH t AS (
      SELECT doc_id, text,
        list_filter(string_split(text, ' '), x -> len(x) > 0) AS toks,
        list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS toks_l
      FROM inj),
    s AS (
      SELECT doc_id,
        len(toks) AS n_words,
        round(coalesce(list_sum(list_transform(toks, x -> len(x))), 0)
              / greatest(len(toks), 1), 4) AS mean_word_len,
        round((len(text) - len(regexp_replace(text, '#|…', '', 'g'))
               + len(regexp_extract_all(text, '\\.\\.\\.')))
              / greatest(len(toks), 1), 6) AS symbol_ratio,
        round(len(list_filter(toks, x -> regexp_matches(x, '[a-zA-Z]')))
              / greatest(len(toks), 1), 6) AS frac_alpha_words,
        len(list_filter(['the','be','to','of','and','that','have','with'],
            s -> list_contains(toks_l, s))) AS n_req_stopwords
      FROM t)
    SELECT doc_id, CAST(n_words AS BIGINT) AS n_words, mean_word_len,
           symbol_ratio, frac_alpha_words,
           CAST(n_req_stopwords AS BIGINT) AS n_req_stopwords,
           (n_words BETWEEN 50 AND 100000)
             AND (mean_word_len BETWEEN 3.0 AND 10.0)
             AND symbol_ratio <= 0.1 AND frac_alpha_words >= 0.8
             AND n_req_stopwords >= 2 AS gopher_pass
    FROM s
"""


def test_gopher_quality_flags_duckdb_parity(spark):
    """The word-soup corpus carries (correctly) almost no Gopher stopwords,
    so — per the PII-injection convention — even doc_ids get ' the of and'
    appended on BOTH sides, making the pass flag fire in both directions."""
    import duckdb

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 2 == 0, F.concat("text", F.lit(" the of and"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    got = {
        r["doc_id"]: tuple(r)[1:]
        for r in _gopher_flags(docs).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    con.execute(
        "CREATE VIEW inj AS SELECT doc_id, "
        "CASE WHEN doc_id % 2 = 0 THEN text || ' the of and' "
        "ELSE text END AS text FROM documents"
    )
    want = {r[0]: tuple(r)[1:] for r in con.execute(_GOPHER_SQL).fetchall()}
    assert got == want
    # real corpus: the flag is non-vacuous in both directions
    passes = {v[-1] for v in got.values()}
    assert passes == {True, False}


def test_gopher_line_flags_semantics(spark):
    dl = spark.createDataFrame(
        [
            (1, ["- a", "* b", "• c", "text line"]),   # 3/4 bullets: pass
            (2, ["- a", "- b", "- c", "- d"]),          # 1.0 > 0.9: fail
            (3, ["x ...", "y…", "z"]),                  # 2/3 ellipsis: fail
            (4, []),                                    # empty doc: passes
        ],
        "doc_id bigint, lines array<string>",
    )
    got = {r["doc_id"]: r.asDict() for r in _line_flags(dl).collect()}
    assert got[1]["line_pass"] is True and got[1]["frac_bullet_lines"] == 0.75
    assert got[2]["line_pass"] is False
    assert got[3]["line_pass"] is False
    assert got[3]["frac_ellipsis_lines"] == round(2 / 3, 6)
    assert got[4]["line_pass"] is True and got[4]["n_lines"] == 0


def test_c4_line_filter_semantics(spark):
    dl = spark.createDataFrame(
        [
            (1, ["This is a sentence.", "short.", "no punct line here",
                 "Another good line!"]),
            (2, ["Lorem ipsum dolor sit.", "Real sentence here today.",
                 "Another full sentence here.", "Third full sentence here."]),
            (3, ["code { x }", "Real sentence here.", "Another one here.",
                 "Third sentence here."]),
            (4, ["Good sentence one.", "Good sentence two.",
                 "Good sentence three."]),
        ],
        "doc_id bigint, lines array<string>",
    )
    got = {r["doc_id"]: r.asDict() for r in _c4_flags(dl).collect()}
    # doc 1: 'short.' has < 3 words, 'no punct' has no terminal punctuation
    assert got[1]["n_kept"] == 2 and got[1]["c4_pass"] is False
    assert got[1]["clean_text"] == "This is a sentence. Another good line!"
    assert got[2]["has_lorem"] is True and got[2]["c4_pass"] is False
    assert got[3]["has_brace"] is True and got[3]["c4_pass"] is False
    assert got[4]["c4_pass"] is True and got[4]["n_kept"] == 3


# deterministic structure injection so every rule fires on the word-soup
# corpus: bullets, terminal punctuation, lorem/brace, trailing ellipsis —
# the SAME expression on both engines
_INJECT_SPARK = None  # built in the test (needs F)
_INJECT_SQL = """
    SELECT doc_id,
           CASE CAST(doc_id % 4 AS INT)
             WHEN 0 THEN '- ' || text || ' fin end here.'
             WHEN 1 THEN text || ' lorem ipsum {code} done.'
             WHEN 2 THEN text || ' trailing off ...'
             ELSE text END AS text
    FROM documents
"""
_LINES_SQL = """
    SELECT doc_id,
           CASE WHEN text IS NULL OR text = '' THEN []
           ELSE list_transform(
             range(0, greatest(CAST(ceil(len(t) / 8.0) AS INT), 1)),
             i -> array_to_string(list_slice(t, i*8+1, i*8+8), ' '))
           END AS lines
    FROM (SELECT doc_id, text, string_split(text, ' ') AS t FROM inj)
"""


def _injected_docs(spark, sf):
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    m = F.col("doc_id") % 4
    return docs.select(
        "doc_id",
        F.when(m == 0, F.concat(F.lit("- "), "text", F.lit(" fin end here.")))
        .when(m == 1, F.concat("text", F.lit(" lorem ipsum {code} done.")))
        .when(m == 2, F.concat("text", F.lit(" trailing off ...")))
        .otherwise(F.col("text"))
        .alias("text"),
    )


def test_line_filters_duckdb_parity(spark):
    import duckdb

    sf = "/root/testdata/sf0.001"
    # min_kept_lines=1: the injected punctuation can only land on each
    # doc's FINAL chunk-line, so the default 3 would be vacuously false
    rows = curation.quality_filter(
        _injected_docs(spark, sf), min_kept_lines=1
    ).collect()
    got_g = {r["doc_id"]: tuple(r[c] for c in _LINE) for r in rows}
    got_c = {r["doc_id"]: tuple(r[c] for c in _C4) for r in rows}
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    con.execute(f"CREATE VIEW inj AS {_INJECT_SQL}")
    con.execute(f"CREATE VIEW l AS {_LINES_SQL}")
    want_g = {
        r[0]: tuple(r)[1:]
        for r in con.execute(
            """
        SELECT doc_id, CAST(len(lines) AS BIGINT) AS n_lines,
          round(len(list_filter(lines,
              x -> regexp_matches(x, '^\\s*[-*•‣▪]')))
            / greatest(len(lines), 1), 6) AS frac_bullet_lines,
          round(len(list_filter(lines,
              x -> regexp_matches(x, '(\\.\\.\\.|…)\\s*$')))
            / greatest(len(lines), 1), 6) AS frac_ellipsis_lines
        FROM l
        """
        ).fetchall()
    }
    want_g = {
        k: v + (v[1] <= 0.9 and v[2] <= 0.3,) for k, v in want_g.items()
    }
    assert got_g == want_g
    want_c = {
        r[0]: tuple(r)[1:]
        for r in con.execute(
            """
        WITH s AS (
          SELECT doc_id, len(lines) AS n_lines,
            list_filter(lines, x -> regexp_matches(x, '[.!?"”]\\s*$')
              AND len(string_split(trim(x), ' ')) >= 3) AS kept,
            contains(lower(array_to_string(lines, ' ')), 'lorem ipsum')
              AS has_lorem,
            contains(lower(array_to_string(lines, ' ')), '{') AS has_brace
          FROM l)
        SELECT doc_id, CAST(n_lines AS BIGINT) AS n_lines,
               CAST(len(kept) AS BIGINT) AS n_kept,
               coalesce(array_to_string(kept, ' '), '') AS clean_text,
               has_lorem, has_brace,
               len(kept) >= 1 AND NOT has_lorem AND NOT has_brace AS c4_pass
        FROM s
        """
        ).fetchall()
    }
    assert got_c == want_c
    # injection made every rule fire somewhere
    assert any(v[1] > 0 for v in got_g.values())         # some bullet lines
    assert any(v[2] > 0 for v in got_g.values())         # some ellipsis lines
    assert any(v[3] for v in got_c.values())             # some lorem docs
    assert any(v[5] for v in got_c.values())             # some c4 passes


def test_quality_filter_fused_equals_separate(spark):
    """curation.quality_filter (single projection, zero exchange) must
    equal the three rule families built as separate projections
    row-for-row, and its physical plan must contain no Exchange (the
    fusion exists to avoid the doc_id self-joins the naive compose would
    shuffle on)."""
    sf = "/root/testdata/sf0.001"
    docs = _injected_docs(spark, sf)
    fused = curation.quality_filter(docs, min_kept_lines=1)
    assert "Exchange" not in fused._jdf.queryExecution().executedPlan().toString()
    got = {r["doc_id"]: r.asDict() for r in fused.collect()}

    g = {
        r["doc_id"]: r.asDict()
        for r in docs.select(
            "doc_id",
            *(c.alias(n) for n, c in textstats.gopher_doc_cols().items()),
        )
        .withColumn("gopher_pass", textstats.gopher_pass_col())
        .collect()
    }
    dl = docs.select(
        "doc_id", "text", F.split("text", " ").alias("_toks")
    ).select("doc_id", curation._chunk_lines_col(8).alias("lines"))
    gl = {r["doc_id"]: r.asDict() for r in _line_flags(dl).collect()}
    c4 = {
        r["doc_id"]: r.asDict()
        for r in _c4_flags(dl, min_kept_lines=1).collect()
    }
    assert set(got) == set(g)
    for i, row in got.items():
        want = {**g[i], **gl[i], **c4[i]}
        assert row == {k: want[k] for k in row}
