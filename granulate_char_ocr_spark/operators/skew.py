"""Explicit skew handling for the media-extraction stage.

AQE's skew-join splitting only fixes *join* skew; our skew is **compute**
skew — media-heavy documents (the 1%-of-docs-with-50× tail, FIXTURES.md §1)
would pin one task in ``mapInPandas`` while its siblings idle. The fix is the
north rule's doc_id salting: repartition the exploded media spans on
``(doc_id, salt)`` where salt spreads a hot doc's spans across ``n_salts``
partitions. Extraction is span-local (no per-doc state), so correctness is
unaffected; order is later restored by key in the stitch (operators/stitch.py).

Partition counts come from here too: :func:`core_partitions` (one per
core) and :func:`kernel_partitions` (cores × 4, exchanges feeding a kernel).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SALT_COL = "_salt"


def core_partitions(spark: SparkSession) -> int:
    """One per core: for widened narrow scans, and for stages whose every
    task pays a fixed cost (a replicated index, broadcast vector blocks),
    where extra tasks only add that cost."""
    return spark.sparkContext.defaultParallelism


def kernel_partitions(spark: SparkSession) -> int:
    """Cores × 4, for an exchange feeding a compute-heavy kernel. Explicit,
    not AQE-advisory: the exchange carries only keys or byte-small payloads
    (span keys, media_refs, ~600 B encoded glyphs), so AQE's bytes-based
    sizing would coalesce it to ~1 partition and serialize the per-row
    decode/classify work it cannot see. × 4 absorbs uneven per-row cost."""
    return core_partitions(spark) * 4


def salt_repartition(
    df: DataFrame,
    n_salts: int = 8,
    key: str = "doc_id",
    spread_col: str = "offset",
) -> DataFrame:
    """Repartition on (key, salt) with salt = xxhash64(spread_col) % n_salts
    into :func:`kernel_partitions` partitions.

    The salt is derived from a per-span column (offset), so it is
    deterministic (idempotent resume-safe) — not random — and uniform within
    a hot document.
    """
    salted = df.withColumn(
        SALT_COL, F.pmod(F.xxhash64(F.col(spread_col)), F.lit(n_salts))
    )
    out = salted.repartition(
        kernel_partitions(df.sparkSession), F.col(key), F.col(SALT_COL)
    )
    return out.drop(SALT_COL)


def widen_narrow_scan(df: DataFrame) -> DataFrame:
    """Round-robin repartition ``df`` ONLY when its scan is narrower than
    the cluster (fewer input partitions than cores) — the compute-skew twin
    for CPU-heavy per-row expression stages (gram explosion + md5 hashing):
    a parquet file with one row group scans as ONE task, and AQE's
    bytes-based sizing cannot see the downstream expression cost, so the
    whole stage serializes on one core.

    At real scale this is a NO-OP: a 100 TB corpus scans as thousands of
    splits, so no shuffle is added. The repartition only fires when the
    input layout under-parallelizes the stage, where the shuffled bytes
    are by construction small (they fit in the few tasks the scan made)."""
    target = core_partitions(df.sparkSession)
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
