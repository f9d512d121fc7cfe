"""KMV bottom-k distinct sketch (operators/sketches.py): exact small-range
degeneration, pinned accuracy on the fixture corpus, the mergeability that
makes it scale, and the WindowGroupLimit plan shape."""

from pyspark.sql import Window
from pyspark.sql import functions as F

from granulate_char_ocr_spark.operators import sketches


def _bigrams(spark, sf):
    from granulate_char_ocr_spark.operators.dedup import (
        TOKENS,
        _gram_windows_expr,
    )

    return (
        spark.read.parquet(f"{sf}/documents.parquet")
        .withColumn("_toks", TOKENS())
        .select(
            "lang",
            F.explode(
                F.expr(_gram_windows_expr(2, distinct=False))
            ).alias("g"),
        )
    )


def test_kmv_small_range_is_exact(spark):
    """Below k distinct values the sketch degenerates to the exact count
    (n_kept), including under duplication."""
    df = spark.createDataFrame(
        [("a", f"v{i % 7}") for i in range(100)] + [("b", "only")],
        "grp string, v string",
    )
    got = {
        r["grp"]: (r["n_kept"], r["est_distinct"])
        for r in sketches.kmv_distinct(df, ["grp"], "v", k=64).collect()
    }
    assert got == {"a": (7, 7.0), "b": (1, 1.0)}


def test_kmv_accuracy_pinned(spark):
    """On the sf0.001 bigram corpus the estimator branch fires
    (n_kept == k) and the relative error stays under 15% for k=64
    (theory: ~1/sqrt(k-1) = 12.6%; observed 7-10%). Deterministic —
    fixed md5 hash, fixed corpus."""
    grams = _bigrams(spark, "/root/testdata/sf0.001")
    exact = {
        r["lang"]: r["ex"]
        for r in grams.groupBy("lang")
        .agg(F.countDistinct("g").alias("ex"))
        .collect()
    }
    est = {
        r["lang"]: (r["n_kept"], r["est_distinct"])
        for r in sketches.kmv_distinct(grams, ["lang"], "g", k=64).collect()
    }
    assert set(est) == set(exact)
    for lang, (n_kept, e) in est.items():
        assert n_kept == 64, f"{lang}: estimator branch did not fire"
        assert abs(e - exact[lang]) / exact[lang] < 0.15, (lang, e, exact[lang])


def test_kmv_merge_property(spark):
    """bottom-k(A ∪ B) == bottom-k(bottom-k(A) ∪ bottom-k(B)) — the
    associative combine that bounds per-partition state to k doubles at
    any cluster size. Verified end-to-end: the estimate from merging the
    two halves' kept hashes equals the whole-corpus estimate."""
    grams = _bigrams(spark, "/root/testdata/sf0.001").withColumn(
        "half", (F.crc32("g") % 2).cast("int")
    )
    whole = {
        r["lang"]: r["est_distinct"]
        for r in sketches.kmv_distinct(grams, ["lang"], "g", k=64).collect()
    }
    # per-half bottom-k of distinct hashes (the partial sketch state)
    halves = (
        grams.select("lang", "half", sketches.kmv_hash(F.col("g")).alias("h"))
        .distinct()
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("lang", "half").orderBy("h")
            ),
        )
        .filter(F.col("rn") <= 64)
        .select("lang", "h")
    )
    # merge: bottom-k of the concatenated kept sets (dedup again — the two
    # halves partition the value set here, but a general merge must)
    merged = (
        halves.distinct()
        .withColumn(
            "rn", F.row_number().over(Window.partitionBy("lang").orderBy("h"))
        )
        .filter(F.col("rn") <= 64)
        .groupBy("lang")
        .agg(F.count("*").alias("n_kept"), F.max("h").alias("h_k"))
        .select(
            "lang",
            F.when(F.col("n_kept") < 64, F.col("n_kept").cast("double"))
            .otherwise(F.round(F.lit(63.0) / F.col("h_k")))
            .alias("est"),
        )
    )
    got = {r["lang"]: r["est"] for r in merged.collect()}
    assert got == whole


def test_kmv_plan_shape(spark):
    """The k-smallest-per-group filter must run as WindowGroupLimit (the
    map-side partial limit = the distributed sketch merge); no Python in
    the plan."""
    grams = _bigrams(spark, "/root/testdata/sf0.001")
    plan = (
        sketches.kmv_distinct(grams, ["lang"], "g", k=64)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "WindowGroupLimit" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
