"""Reference formulations the package's Python kernels are pinned against.

Each twin is the pure-expression (or pure-SQL) plan its kernel replaced,
kept only as the cross-check side of a parity test and as the
DuckDB-oracle-shaped build. No package code calls them.
"""

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from granulate_char_ocr_spark.operators.dedup import _gram_windows_expr, shingles
from granulate_char_ocr_spark.operators.sampling import _draw32
from granulate_char_ocr_spark.operators.skew import widen_narrow_scan


def _minhash_signatures_expr(
    docs: DataFrame, k: int = 8, n: int = 3
) -> DataFrame:
    """Reference formulation of ``dedup.minhash_signatures`` (the r1-r5
    pure-expression explode + k seeded-md5 min aggregate), kept as the
    cross-check twin the Arrow kernel is pinned against
    (tests/test_dedup_ops.py) and as the DuckDB-oracle-shaped build."""
    sh = shingles(docs, n)
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{s}:"), F.col("shingle")))).alias(f"mh_{s}")
        for s in range(k)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def _embedding_near_pairs_hof(
    embeddings: DataFrame,
    threshold: float = 0.4,
    sign_dims: int = 4,
    probe_rings: int = 1,
) -> DataFrame:
    """Reference formulation of ``dedup.embedding_near_pairs`` (the pure-SQL
    multi-probe cell equi-join + per-pair Catalyst HOF cosine). Kept as the
    cross-check twin the blocked kernel is pinned against
    (tests/test_dedup_ops.py) — the r6 kernel must emit the IDENTICAL pair
    set and sims. Do not call on large corpora: the per-candidate
    interpreted HOF dot product made this the r5 board's worst entry by far
    (242 s of a 354 s board at sf1.0)."""
    from granulate_char_ocr_spark.operators.similarity import (
        COSINE_EXPR,
        probe_cells_expr,
        with_cell,
        with_norm,
    )

    celled = with_cell(with_norm(embeddings), sign_dims)
    l = (
        celled.withColumn(
            "probe",
            F.explode(F.expr(probe_cells_expr(sign_dims, probe_rings))),
        )
        .alias("l")
    )
    r = celled.alias("r")
    return (
        l.join(
            r.hint("shuffle_hash"),
            (F.col("l.probe") == F.col("r.cell"))
            & (F.col("l.vec_id") < F.col("r.vec_id")),
        )
        .select(
            F.col("l.vec_id").alias("vec_a"),
            F.col("r.vec_id").alias("vec_b"),
            F.round(F.expr(COSINE_EXPR), 5).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )


def _hashed_grams_expr(
    df: DataFrame,
    key_col: str,
    text_col: str,
    buckets: int,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Reference formulation of ``sampling._hashed_grams`` (the r1-r5 pure
    expression gram-window explode + per-occurrence md5), kept as the
    cross-check twin the Arrow kernel is pinned against
    (tests/test_dsir.py) and as the DuckDB-oracle-shaped build. The gram
    windows come from dedup's shared ``_gram_windows_expr`` so DSIR's gram
    space can never silently diverge from the dedup/decontamination one."""
    uni = _gram_windows_expr(1, with_pos=False, distinct=False)
    bi = _gram_windows_expr(2, with_pos=False, distinct=False)
    return (
        widen_narrow_scan(df)
        .withColumn("_toks", F.split(F.col(text_col), " "))
        .select(
            key_col,
            *carry_cols,
            F.explode(F.expr(f"concat({uni}, {bi})")).alias("_g"),
        )
        .where(F.length("_g") > 0)
        .select(
            key_col,
            *carry_cols,
            (_draw32(F.col("_g")) % buckets).alias("bucket"),
        )
    )


def _winnow_fingerprints_expr(docs: DataFrame, k: int = 5, w: int = 4) -> DataFrame:
    """Reference formulation of ``textstats.winnow_fingerprints`` (the r1-r5
    pure-column-expression plan), kept as the cross-check twin the Arrow
    kernel is pinned against (tests/test_textstats_repetition.py) and as
    the DuckDB-oracle-shaped build."""
    norm = F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))
    grams = (
        f"transform(sequence(1, greatest(length(_norm) - {k - 1}, 1)), "
        f"i -> substring(_norm, i, {k}))"
    )
    hashes = (
        f"transform(filter({grams}, g -> length(g) = {k}), "
        "g -> cast(conv(substring(md5(g), 1, 8), 16, 10) as bigint))"
    )
    wins = (
        f"case when size(_hashes) >= {w} then "
        f"array_distinct(transform(sequence(1, size(_hashes) - {w - 1}), "
        f"j -> array_min(slice(_hashes, j, {w})))) "
        "else array() end"
    )
    return (
        widen_narrow_scan(docs)
        .withColumn("_norm", norm)
        .withColumn("_hashes", F.expr(hashes))
        .select("doc_id", F.explode(F.expr(wins)).alias("fp"))
    )


def _tf_expr(docs: DataFrame) -> DataFrame:
    """Reference formulation of ``curation._tf_kernel`` (explode +
    aggregate), kept as the cross-check twin and the oracle-shaped build."""
    words = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).where(F.col("term") != "")
    return words.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
