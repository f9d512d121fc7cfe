"""DSIR importance weighting + Gumbel-top-k selection
(operators/sampling.py) — semantics and exact DuckDB parity."""

import reference_twins as twins
from granulate_char_ocr_spark.driver_queries import _DSIR_GRAMS_SQL
from granulate_char_ocr_spark.operators.sampling import (
    dsir_select,
    dsir_weights,
)

_DSIR_WEIGHTS_SQL = f"""
    WITH gr AS ({_DSIR_GRAMS_SQL.format(src="documents")}),
    gt AS ({_DSIR_GRAMS_SQL.format(src="tgt")}),
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
"""


def test_dsir_weights_favor_target_like_docs(spark):
    target = spark.createDataFrame(
        [(100 + i, "cats and dogs play in the garden all day") for i in range(5)],
        "doc_id bigint, text string",
    )
    raw = spark.createDataFrame(
        [
            (1, "cats and dogs play in the garden"),
            (2, "dogs play with cats in the garden"),
            (3, "quarterly revenue projections exceeded forecast targets"),
            (4, "tensor kernel scheduler latency regression benchmark"),
        ],
        "doc_id bigint, text string",
    )
    w = {
        r["doc_id"]: r["log_weight"]
        for r in dsir_weights(raw, target).collect()
    }
    assert min(w[1], w[2]) > max(w[3], w[4])
    # Gumbel top-2 picks the two target-like docs (weights dominate noise)
    picked = {r["doc_id"] for r in dsir_select(raw, target, k=2).collect()}
    assert picked == {1, 2}


def test_dsir_weights_duckdb_parity(spark):
    import duckdb

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    target = docs.where("lang = 'en'")
    got = {
        r["doc_id"]: (r["n_grams"], r["log_weight"])
        for r in dsir_weights(docs, target).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    con.execute("CREATE VIEW tgt AS SELECT * FROM documents WHERE lang = 'en'")
    want = {
        r[0]: (r[1], r[2])
        for r in con.execute(
            _DSIR_WEIGHTS_SQL
            + """
        SELECT d.doc_id, CAST(coalesce(s.n_grams, 0) AS BIGINT),
               coalesce(s.log_weight, 0.0)
        FROM documents d LEFT JOIN s USING (doc_id)
        """
        ).fetchall()
    }
    assert got == want
    assert len(got) == docs.count()


def test_dsir_select_duckdb_parity(spark):
    import duckdb

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    target = docs.where("lang = 'en'")
    got = [
        (r["doc_id"], r["sample_key"])
        for r in dsir_select(docs, target, k=50).collect()
    ]
    # result arrives in selection order (sort + limit)
    assert got == sorted(got, key=lambda t: (-t[1], t[0]))
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    con.execute("CREATE VIEW tgt AS SELECT * FROM documents WHERE lang = 'en'")
    want = [
        (r[0], r[1])
        for r in con.execute(
            _DSIR_WEIGHTS_SQL
            + """
        SELECT d.doc_id,
               round(coalesce(s.log_weight, 0.0) - ln(-ln(
                 (('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))
                    ::BIGINT + 0.5) / 4294967296.0)), 6) AS sample_key
        FROM documents d LEFT JOIN s USING (doc_id)
        ORDER BY sample_key DESC, d.doc_id
        LIMIT 50
        """
        ).fetchall()
    ]
    assert got == want


def test_dsir_predicate_path_equals_generic_path(spark):
    """The r6 single-explosion predicate path must produce exactly the
    same selection (ids, counts, weights, sample keys) as the generic
    two-corpus path over the equivalent filtered DataFrame."""
    from pyspark.sql import functions as F

    from granulate_char_ocr_spark.operators.sampling import dsir_select

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text", "lang")
    cols = ["doc_id", "n_grams", "log_weight", "sample_key"]
    pred = sorted(
        tuple(r)
        for r in dsir_select(
            docs, None, k=100, target_predicate=F.col("lang") == "en"
        )
        .select(*cols)
        .collect()
    )
    generic = sorted(
        tuple(r)
        for r in dsir_select(
            docs, docs.where(F.col("lang") == "en"), k=100
        )
        .select(*cols)
        .collect()
    )
    assert pred == generic and len(pred) == 100


def test_hashed_grams_kernel_equals_expr(spark):
    """The r6 memoized Arrow gram kernel must emit the IDENTICAL
    occurrence multiset as the retained expression twin
    (_hashed_grams_expr) — same tokenization, same empty-unigram drop,
    same bigram survival for empty-token pairs, same bucket hash —
    including carry columns."""
    from collections import Counter

    from pyspark.sql import functions as F

    from granulate_char_ocr_spark.operators import sampling

    base = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text", "lang")
    edges = spark.createDataFrame(
        [
            (200001, "a  b c  d", "en"),   # consecutive spaces
            (200002, " lead trail ", "de"),
            (200003, "solo", "en"),        # 1 token -> 1 unigram, 0 bigrams
            (200004, "", "fr"),            # empty text -> no grams
            (200005, None, "es"),          # null text -> no grams
        ],
        "doc_id bigint, text string, lang string",
    )
    docs = edges.unionAll(base).withColumn(
        "_is_tgt", F.coalesce(F.col("lang") == "en", F.lit(False))
    )
    new = Counter(
        tuple(r)
        for r in sampling._hashed_grams(
            docs, 64, carry_cols=("_is_tgt",)
        ).collect()
    )
    ref = Counter(
        tuple(r)
        for r in twins._hashed_grams_expr(
            docs, "doc_id", "text", 64, carry_cols=("_is_tgt",)
        ).collect()
    )
    assert new == ref
