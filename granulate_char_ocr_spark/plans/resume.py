"""Idempotent batch checkpoint/resume (north rule: "resumes idempotently from
the last committed checkpoint").

Mechanism — a deterministic bucket ledger, not Structured Streaming state:

* every document maps to a stable bucket: ``pmod(xxhash64(doc_id), n_buckets)``
* output parquet is partitioned by ``bucket`` and written with dynamic
  partition overwrite, so re-writing a bucket is idempotent (same doc set →
  byte-identical span rows, since the whole pipeline is deterministic);
* a JSON ledger records committed buckets and ``n_buckets``; on restart,
  committed buckets are skipped (the anti-join of pending work against the
  ledger). Another ``n_buckets`` moves documents between buckets, so a
  resume with it is refused (a ledger without the count is accepted).

At cluster scale the ledger lives next to the output (object store / Iceberg
snapshot metadata); bucket count is sized so one bucket ≈ one comfortable
retry unit.
"""

from __future__ import annotations

import json
import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from granulate_char_ocr_spark.plans.pipeline import extract_documents

LEDGER_NAME = "_ledger.json"
BUCKET_COL = "bucket"


def with_bucket(docs: DataFrame, n_buckets: int) -> DataFrame:
    return docs.withColumn(
        BUCKET_COL, F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets))
    )


def _load_ledger(out_dir: str) -> dict:
    path = os.path.join(out_dir, LEDGER_NAME)
    if not os.path.exists(path):
        return {"committed_buckets": []}
    with open(path) as f:
        return json.load(f)


def read_ledger(out_dir: str) -> list[int]:
    return sorted(_load_ledger(out_dir)["committed_buckets"])


def _write_ledger(out_dir: str, ledger: dict) -> None:
    path = os.path.join(out_dir, LEDGER_NAME)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(ledger, f)
    os.replace(tmp, path)  # atomic commit


def run_with_resume(
    spark: SparkSession,
    docs: DataFrame,
    media: DataFrame,
    out_dir: str,
    n_buckets: int,
    only_buckets: Sequence[int] | None = None,
    n_salts: int = 8,
    **extract_kwargs,
) -> list[int]:
    """Run extraction for all not-yet-committed buckets; returns the buckets
    processed this invocation. ``only_buckets`` restricts the run (used by
    tests to simulate a mid-job kill). Extra keyword args (noisy,
    dedup_media, segmenter, ...) pass through to ``extract_documents``.
    Raises ``ValueError`` if the ledger records another ``n_buckets``."""
    os.makedirs(out_dir, exist_ok=True)
    ledger = _load_ledger(out_dir)
    if ledger.get("n_buckets", n_buckets) != n_buckets:
        raise ValueError(
            f"{out_dir} has n_buckets={ledger['n_buckets']}, not {n_buckets}: "
            "resuming would skip or duplicate documents"
        )
    committed = set(ledger["committed_buckets"])
    target = set(range(n_buckets)) - committed
    if only_buckets is not None:
        target &= set(only_buckets)
    if not target:
        return []
    todo = sorted(target)

    bucketed = with_bucket(docs, n_buckets)
    pending = bucketed.filter(F.col(BUCKET_COL).isin(todo))
    result = extract_documents(
        pending.drop(BUCKET_COL), media, n_salts=n_salts, **extract_kwargs
    )
    result = with_bucket(result, n_buckets)

    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    (
        result.write.partitionBy(BUCKET_COL)
        .mode("overwrite")
        .parquet(os.path.join(out_dir, "extracted"))
    )
    _write_ledger(
        out_dir,
        {"n_buckets": n_buckets, "committed_buckets": sorted(committed | target)},
    )
    return todo


def read_output(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(out_dir, "extracted")).drop(BUCKET_COL)
