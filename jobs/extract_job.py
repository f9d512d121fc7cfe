"""Production entrypoint, run with spark-submit:

    python tools/make_pyfiles.py   # the zip, and the FileSystem jar
    spark-submit \
      --py-files dist/granulate_char_ocr_spark.zip \
      --conf spark.executorEnv.PYTHONPATH=granulate_char_ocr_spark.zip \
      [--driver-class-path dist/gcos-localfs-*.jar \
       --conf spark.hadoop.fs.file.impl=granulate.hadoop.InProcessLocalFileSystem] \
      jobs/extract_job.py \
      --documents s3://bucket/warehouse/docs \
      --media s3://bucket/warehouse/media \
      --output s3://bucket/warehouse/extracted \
      --run-id nightly-2026-08-16 \
      [--n-buckets 4096] [--no-dedup-media] [--n-salts 64] [--noisy]

Reads the interleaved documents table + media store, runs the extraction
pipeline with idempotent bucket-ledger resume, and appends per-partition
lineage rows to ``<output>/metrics``.

The session forks its Python workers from
``granulate_char_ocr_spark.worker_daemon`` (``session.WORKER_DAEMON_CONF``)
unless the submit names a ``spark.python.daemon.module`` itself. That daemon
starts before any task has put ``--py-files`` on the workers' path, so the
``spark.executorEnv.PYTHONPATH`` line above puts the zip, which executors
fetch into their working directory, on it from the start; it must name the
``--py-files`` zip's file name.

The bracketed pair matters for ``file://`` outputs only (s3a and hdfs
writes do not touch it). Without libhadoop, Hadoop's local FileSystem forks
a ``chmod`` for every directory, part file and ``.crc`` it creates, ~3 forks
per bucket; ``session.LOCAL_FS_CLASS`` sets the same modes inside the JVM.
The jar must be on the JVM's class path from launch: ``--jars`` adds it too
late, and spark-submit then fails with ``ClassNotFoundException`` resolving
its own local files. Executors that write ``file://`` paths need it on
``spark.executor.extraClassPath`` as well. ``session.get_spark`` sets the
pair itself (local mode runs its executor in the driver JVM).
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--documents", required=True)
    ap.add_argument("--media", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--n-buckets", type=int, default=64)
    ap.add_argument("--n-salts", type=int, default=8)
    ap.add_argument("--noisy", action="store_true")
    ap.add_argument(
        "--segmenter",
        choices=["projection", "cc"],
        default="projection",
        help="region segmentation strategy (cc = connected components, "
        "for multi-row layouts)",
    )
    ap.add_argument("--no-dedup-media", action="store_true")
    args = ap.parse_args()

    import time

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from granulate_char_ocr_spark.plans import resume
    from granulate_char_ocr_spark.plans.lineage import partition_lineage
    from granulate_char_ocr_spark.session import submitted_worker_daemon_conf

    # on a cluster the session comes from spark-submit; local fallback for
    # smoke runs
    spark = (
        SparkSession.builder.appName("gcos-extract")
        .config(map=submitted_worker_daemon_conf())
        .getOrCreate()
    )
    docs = spark.read.parquet(args.documents)
    media = spark.read.parquet(args.media)

    t0 = time.monotonic()
    done = resume.run_with_resume(
        spark,
        docs,
        media,
        args.output,
        n_buckets=args.n_buckets,
        n_salts=args.n_salts,
        noisy=args.noisy,
        dedup_media=not args.no_dedup_media,
        segmenter=args.segmenter,
    )
    elapsed_ms = int((time.monotonic() - t0) * 1000)
    print(f"processed buckets: {done}")
    if not done:
        return  # resume found nothing pending — no lineage rows to append

    # lineage/metrics append for THIS run's buckets only, derived from the
    # just-written output (one cheap scan — re-running extract_flat over the
    # full corpus would double the job's cost, ADVICE r1). Manifest-hash
    # snapshot id: Iceberg jars are not assumed; swap for
    # table.currentSnapshot().snapshotId() when present.
    from granulate_char_ocr_spark.sources.tables import manifest_snapshot_id

    snapshot_id = manifest_snapshot_id(args.documents)
    written = spark.read.parquet(os.path.join(args.output, "extracted")).filter(
        F.col(resume.BUCKET_COL).isin(list(done))
    )
    flat = written.select(
        "doc_id", F.explode("spans").alias("s")
    ).select(
        "doc_id",
        "s.kind",
        "s.text",
        "s.media_ref",
        F.length("s.text").alias("n_chars"),
    )
    partition_lineage(
        flat, run_id=args.run_id, snapshot_id=snapshot_id, elapsed_ms=elapsed_ms
    ).write.mode("append").parquet(os.path.join(args.output, "metrics"))


if __name__ == "__main__":
    main()
