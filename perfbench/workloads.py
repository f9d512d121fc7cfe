"""The four workloads: the production job each runs, its golden check, the
staged (traced) layer chain, and the kernel micro-timings.

OCR workloads run the calls ``jobs/extract_job.py`` makes —
``plans.resume.run_with_resume`` then ``plans.lineage.partition_lineage`` —
over the generated parquet; ``ocr_compressed_unique`` first passes the media
store through ``operators.multimodal.decode_media_store``. ``corpus_dedup``
runs seven ``driver_queries`` queries and collects each result to pandas.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from perfbench import golden, inputs
from perfbench.probe import PYTHON_OPS, df_plan_rows, sum_metric

N_BUCKETS = 64  # jobs/extract_job.py defaults
N_SALTS = 8
MB = 1 << 20


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


class Stager:
    """Runs each layer as its own action over the previous layer's persisted
    output: persists a DataFrame, times its count as a trace span, and keeps
    the executed-plan rows of every stage."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.rows: list[dict] = []
        self._cached = []

    def __call__(self, name: str, df):
        df = df.persist()
        self._cached.append(df)
        with self.tracer.span(name):
            df.count()
        self.rows.extend(df_plan_rows(df, name))
        return df

    def rows_of(self, name: str) -> list[dict]:
        return [r for r in self.rows if r["stage"] == name]

    def release(self) -> None:
        for df in self._cached:
            df.unpersist()


def decode_stage(stage: Stager, media) -> tuple[object, dict]:
    """``operators.multimodal.decode_media_store`` as its own stage; returns
    (decoded store, multimodal metrics)."""
    from pyspark.sql import functions as F

    from granulate_char_ocr_spark.operators.multimodal import (
        decode_media_store,
    )

    media = stage("decode_media_store", decode_media_store(media))
    dec = stage.rows_of("decode_media_store")
    return media, {
        "multimodal.decode_store_s": stage.tracer.duration(
            "decode_media_store"),
        "multimodal.python_total_s": sum_metric(
            dec, "pythonTotalTime", PYTHON_OPS),
        "multimodal.python_init_s": sum_metric(
            dec, "pythonInitTime", PYTHON_OPS),
        "multimodal.decode_failed": media.filter(
            F.col("pixels").isNull()).count(),
    }


class OcrWorkload:
    def __init__(self, name: str, path: str, manifest: dict):
        self.name, self.path, self.manifest = name, path, manifest
        self.dedup_media = name != "ocr_per_span"
        self.compressed = name == "ocr_compressed_unique"
        self.expected = pq.read_table(
            os.path.join(path, "expected.parquet")
        ).to_pandas()
        self.n_docs = manifest["docs"]

    # --- the production job -------------------------------------------------

    def _read(self, spark):
        docs_path = os.path.join(self.path, "ocr_documents.parquet")
        docs = spark.read.parquet(docs_path)
        media = spark.read.parquet(os.path.join(self.path, "ocr_media.parquet"))
        if self.compressed:
            from granulate_char_ocr_spark.operators.multimodal import (
                decode_media_store,
            )

            media = decode_media_store(media)
        return docs_path, docs, media

    def job(self, spark, out: str) -> None:
        from pyspark.sql import functions as F

        from granulate_char_ocr_spark.plans import resume
        from granulate_char_ocr_spark.plans.lineage import partition_lineage
        from granulate_char_ocr_spark.sources.tables import (
            manifest_snapshot_id,
        )

        docs_path, docs, media = self._read(spark)
        t0 = time.monotonic()
        done = resume.run_with_resume(
            spark, docs, media, out, n_buckets=N_BUCKETS, n_salts=N_SALTS,
            dedup_media=self.dedup_media,
        )
        elapsed_ms = int((time.monotonic() - t0) * 1000)
        if not done:
            return
        written = spark.read.parquet(os.path.join(out, "extracted")).filter(
            F.col(resume.BUCKET_COL).isin(list(done))
        )
        flat = written.select("doc_id", F.explode("spans").alias("s")).select(
            "doc_id", "s.kind", "s.text", "s.media_ref",
            F.length("s.text").alias("n_chars"),
        )
        partition_lineage(
            flat, run_id=os.path.basename(out),
            snapshot_id=manifest_snapshot_id(docs_path),
            elapsed_ms=elapsed_ms,
        ).write.mode("append").parquet(os.path.join(out, "metrics"))

    def check(self, out: str) -> int:
        failed = golden.check_ocr(os.path.join(out, "extracted"), self.expected)
        if not os.path.isdir(os.path.join(out, "metrics")):
            failed = self.n_docs  # no lineage rows: the job did not finish
        return failed

    # --- staged layer chain (traced run) ------------------------------------

    def chain(self, docs, media, stage) -> dict:
        """``plans.pipeline.extract_documents`` (``detail=False``, broadcast
        media, as ``run_with_resume`` calls it) composed from its layers'
        public functions, each passed through ``stage(name, df)``. Returns
        the intermediate DataFrames by name; ``assembled`` is the job's
        result. With ``stage`` the identity, ``assembled`` has
        ``extract_documents``'s plan, which the benchmark's tests check."""
        from pyspark.sql import functions as F

        from granulate_char_ocr_spark.functions.text import (
            ASCII_ONLY_RE,
            normalize_expr,
            normalize_jvm_expr,
        )
        from granulate_char_ocr_spark.operators.extract import (
            extract_media_spans,
            extract_unique_media,
        )
        from granulate_char_ocr_spark.operators.skew import salt_repartition
        from granulate_char_ocr_spark.operators.stitch import (
            assemble_documents,
        )
        from granulate_char_ocr_spark.plans.pipeline import (
            explode_spans,
            unique_media_repartitioned,
        )

        d: dict = {}
        spans = d["spans"] = stage("explode_spans", explode_spans(docs))
        text_spans = d["text_spans"] = spans.filter(F.col("kind") == "text")
        is_ascii = d["is_ascii"] = F.col("text").rlike(ASCII_ONLY_RE)
        # the text branch of plans.pipeline.extract_flat
        ascii_norm = text_spans.filter(is_ascii).withColumn(
            "text", normalize_jvm_expr(F.col("text")))
        other_norm = text_spans.filter(
            ~F.coalesce(is_ascii, F.lit(False))
        ).withColumn("text", normalize_expr(F.col("text")))
        text_out = stage(
            "normalize",
            ascii_norm.unionByName(other_norm).select(
                "doc_id", "offset", "kind", "text", "media_ref"),
        )
        media_spans = d["media_spans"] = spans.filter(
            F.col("kind") == "media").select("doc_id", "offset", "media_ref")
        media_side = F.broadcast(media)
        if self.dedup_media:
            d["kernel_in"] = stage(
                "unique_media_repartitioned",
                unique_media_repartitioned(media_spans, media_side),
            )
            d["kernel"] = "extract_unique_media"
            rec = d["rec"] = stage(
                d["kernel"], extract_unique_media(d["kernel_in"], detail=False))
            recognized = media_spans.join(F.broadcast(rec), "media_ref", "left")
        else:
            d["kernel_in"] = stage(
                "salt_repartition",
                salt_repartition(media_spans, n_salts=N_SALTS),
            )
            d["kernel"] = "extract_media_spans"
            recognized = d["rec"] = stage(
                d["kernel"],
                extract_media_spans(
                    d["kernel_in"].join(media_side, "media_ref", "left"),
                    detail=False,
                ),
            )
        media_out = recognized.select(
            "doc_id", "offset", F.lit("media").alias("kind"), "text",
            "media_ref")
        d["assembled"] = stage(
            "assemble_documents",
            assemble_documents(text_out.unionByName(media_out)),
        )
        return d

    def staged(self, spark, tracer, out: str) -> tuple[dict, list[dict]]:
        """Run each layer's public function as its own stage; return (layer
        metrics, plan rows)."""
        from pyspark.sql import functions as F

        from granulate_char_ocr_spark.plans import resume
        from granulate_char_ocr_spark.plans.lineage import partition_lineage

        stage = Stager(tracer)
        m: dict[str, float] = {}
        docs = spark.read.parquet(
            os.path.join(self.path, "ocr_documents.parquet")
        )
        media = spark.read.parquet(os.path.join(self.path, "ocr_media.parquet"))
        with tracer.span("job"):
            if self.compressed:
                media, dec = decode_stage(stage, media)
                m.update(dec)
            d = self.chain(docs, media, stage)

            text_spans, is_ascii = d["text_spans"], d["is_ascii"]
            n_text = text_spans.count()
            m["text.ascii_share"] = (
                text_spans.filter(is_ascii).count() / n_text if n_text else 0.0
            )
            m["text.nfc_python_total_s"] = sum_metric(
                stage.rows_of("normalize"), "pythonTotalTime", PYTHON_OPS)

            kernel_in = d["kernel_in"].count()
            if self.dedup_media:
                m["pipeline.media_join_s"] = tracer.duration(
                    "unique_media_repartitioned")
            else:
                salted = d["kernel_in"]
                per_part = [
                    r["count"] for r in salted.groupBy(
                        F.spark_partition_id().alias("p")).count().collect()
                ]
                n_parts = salted.rdd.getNumPartitions()
                m["skew.salt_exchange_s"] = tracer.duration("salt_repartition")
                m["skew.partitions"] = n_parts
                m["skew.partition_rows_max_over_mean"] = (
                    max(per_part) / (kernel_in / n_parts) if kernel_in else 0.0
                )
            n_media = d["media_spans"].count()
            m["pipeline.distinct_images"] = kernel_in
            m["pipeline.dedup_ratio"] = n_media / kernel_in if kernel_in else 0.0
            ker = stage.rows_of(d["kernel"])
            m["extract.kernel_s"] = tracer.duration(d["kernel"])
            m["extract.rows_in"] = kernel_in
            m["extract.crops"] = d["rec"].agg(F.sum("n_chars")).first()[0] or 0
            m["extract.data_sent_mb"] = sum_metric(
                ker, "pythonDataSent", PYTHON_OPS) / MB
            for k in ("Total", "Init", "Boot"):
                m[f"extract.python_{k.lower()}_s"] = sum_metric(
                    ker, f"python{k}Time", PYTHON_OPS)
            m["stitch.shuffle_mb"] = sum_metric(
                stage.rows_of("assemble_documents"), "shuffleBytesWritten") / MB

            extracted = os.path.join(out, "extracted")
            spark.conf.set("spark.sql.sources.partitionOverwriteMode",
                           "dynamic")
            with tracer.span("run_with_resume.write"):
                # the write step of plans.resume.run_with_resume
                resume.with_bucket(d["assembled"], N_BUCKETS).write.partitionBy(
                    resume.BUCKET_COL).mode("overwrite").parquet(extracted)
            m["resume.output_mb"] = _dir_bytes(extracted) / MB
            m["resume.buckets_committed"] = sum(
                1 for d in os.listdir(extracted)
                if d.startswith(resume.BUCKET_COL + "=")
            )
            with tracer.span("partition_lineage"):
                flat = spark.read.parquet(extracted).select(
                    "doc_id", F.explode("spans").alias("s")
                ).select("doc_id", "s.kind", "s.text", "s.media_ref",
                         F.length("s.text").alias("n_chars"))
                partition_lineage(
                    flat, run_id="traced", snapshot_id="traced"
                ).write.mode("append").parquet(os.path.join(out, "metrics"))
        stage.release()

        m["pipeline.explode_s"] = tracer.duration("explode_spans")
        m["text.normalize_s"] = tracer.duration("normalize")
        m["stitch.assemble_s"] = tracer.duration("assemble_documents")
        m["resume.write_s"] = tracer.duration("run_with_resume.write")
        m["lineage.rows_s"] = tracer.duration("partition_lineage")
        # the whole traced job: staged actions, caching and plan walks
        m["trace.docs_per_s"] = self.n_docs / tracer.duration("job")
        return m, stage.rows

    def side_layers(self, spark, tracer, seed: int) -> tuple[dict, list, int]:
        """The decode layer alone, traced on another workload's run: the
        store-decode stage and the per-codec micro-timings. Returns (layer
        metrics, plan rows, failed documents)."""
        stage = Stager(tracer)
        media = spark.read.parquet(os.path.join(self.path, "ocr_media.parquet"))
        with tracer.span("side.ocr_compressed_unique"):
            _, m = decode_stage(stage, media)
        stage.release()
        m.update(codec_micro(self.sample_images(seed), 3)[0])
        return m, stage.rows, int(m["multimodal.decode_failed"])

    # --- kernel micro-timings ------------------------------------------------

    def sample_images(self, seed: int, n: int = 96) -> pd.DataFrame:
        """A fixed seeded sample of the workload's media store rows."""
        media = pq.read_table(
            os.path.join(self.path, "ocr_media.parquet")
        ).to_pandas().sort_values("media_ref", kind="mergesort")
        rng = np.random.default_rng([seed, 5])
        idx = rng.choice(len(media), size=min(n, len(media)), replace=False)
        return media.iloc[np.sort(idx)].reset_index(drop=True)

    def micro(self, seed: int, reps: int = 3) -> dict:
        return kernel_micro(self.sample_images(seed), reps, self.compressed)


def _median_time(fn, reps: int) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def codec_micro(sample: pd.DataFrame, reps: int) -> tuple[dict, list]:
    """``multimodal.decode_payload`` per format over a compressed-store
    sample (median of ``reps``); returns (timings, decoded images)."""
    from granulate_char_ocr_spark.operators.multimodal import decode_payload

    m: dict[str, float] = {}
    fmts = [inputs.format_of(r) for r in sample["media_ref"]]
    for fmt in inputs.FORMATS:
        payloads = [bytes(p) for p, f in zip(sample["pixels"], fmts) if f == fmt]
        t = _median_time(
            lambda: [decode_payload(p, "auto", 0, 0) for p in payloads], reps)
        m[f"{fmt}.decode_ms_per_kimg"] = t * 1e6 / max(len(payloads), 1)
    return m, [decode_payload(bytes(p), "auto", 0, 0) for p in sample["pixels"]]


def kernel_micro(sample: pd.DataFrame, reps: int, compressed: bool) -> dict:
    """Pure-NumPy per-kernel timings over the sample (median of ``reps``):
    decode per format, preprocess, segment, batched classify, and the
    operator's per-batch function, whose remainder is assembly."""
    from granulate_char_ocr_spark.functions import kernels
    from granulate_char_ocr_spark.operators import extract

    def med(fn):
        return _median_time(fn, reps)

    m: dict[str, float] = {}
    raw = sample
    if compressed:
        m, imgs = codec_micro(sample, reps)
        raw = pd.DataFrame(
            {
                "media_ref": sample["media_ref"],
                "width": [i.shape[1] for i in imgs],
                "height": [i.shape[0] for i in imgs],
                "pixels": [i.tobytes() for i in imgs],
            }
        )
    else:
        imgs = [
            np.frombuffer(p, np.uint8).reshape(h, w)
            for p, h, w in zip(raw["pixels"], raw["height"], raw["width"])
        ]
    n = len(imgs)
    pres = [kernels.preprocess(i) for i in imgs]
    crops = [
        p[y: y + h, x: x + w]
        for p in pres for (x, y, w, h) in kernels.segment_regions(p)
    ]
    t_pre = med(lambda: [kernels.preprocess(i) for i in imgs])
    t_seg = med(lambda: [kernels.segment_regions(p) for p in pres])
    t_cls = med(lambda: kernels.classify_batch_cascade(crops, None))
    t_batch = med(lambda: extract._process_batch(
        raw, False, ("media_ref",), False))
    m["kernels.preprocess_ms_per_kimg"] = t_pre * 1e6 / n
    m["kernels.segment_ms_per_kimg"] = t_seg * 1e6 / n
    m["kernels.classify_ms_per_kcrop"] = t_cls * 1e6 / max(len(crops), 1)
    m["extract.assemble_ms_per_kimg"] = (
        max(t_batch - t_pre - t_seg - t_cls, 0.0) * 1e6 / n
    )
    return m


class DedupWorkload:
    name = "corpus_dedup"

    def __init__(self, path: str, manifest: dict):
        self.path, self.manifest = path, manifest
        self.n_docs = manifest["docs"]
        with open(os.path.join(path, "oracle_hashes.json")) as f:
            self.oracle = json.load(f)
        self.results: dict[str, pd.DataFrame] = {}

    @staticmethod
    def _query(name: str):
        from granulate_char_ocr_spark import driver_queries as dq

        return dq.QUERIES.get(name) or getattr(dq, name)

    def job(self, spark, out: str, tracer=None, rows=None) -> None:
        self.results = {}
        for name in inputs.DEDUP_QUERIES:
            df = self._query(name)(spark, self.path)
            if tracer is None:
                self.results[name] = df.toPandas()
            else:
                with tracer.span(name):
                    self.results[name] = df.toPandas()
                rows.extend(df_plan_rows(df, name))

    def check(self, out: str) -> int:
        bad = [
            n for n in inputs.DEDUP_QUERIES
            if n not in self.results
            or golden.value_hash(self.results[n]) != self.oracle[n]
        ]
        return self.n_docs if bad else 0

    def staged(self, spark, tracer, out: str,
               span: str = "job") -> tuple[dict, list[dict]]:
        rows: list[dict] = []
        with tracer.span(span):
            self.job(spark, out, tracer=tracer, rows=rows)
        names = {
            "dedup.minhash_lsh_s": "dedup_minhash_lsh",
            "dedup.ngram_jaccard_s": "dedup_ngram_jaccard",
            "dedup.simhash_s": "simhash_near_pairs",
            "dedup.embedding_cosine_s": "dedup_embedding_cosine",
            "textstats.winnow_s": "winnow_fingerprints_docs",
            "curation.tfidf_s": "tfidf_top_terms_docs",
            "sampling.dsir_s": "dsir_select_docs",
        }
        m = {k: tracer.duration(q) for k, q in names.items()}
        m["curation.python_init_s"] = sum_metric(rows, "pythonInitTime",
                                                 PYTHON_OPS)
        m["curation.python_total_s"] = sum_metric(rows, "pythonTotalTime",
                                                  PYTHON_OPS)
        m["curation.shuffle_mb"] = sum_metric(rows, "shuffleBytesWritten") / MB
        m["trace.docs_per_s"] = self.n_docs / tracer.duration(span)
        return m, rows

    def side_layers(self, spark, tracer, seed: int) -> tuple[dict, list, int]:
        """The curation layers alone, traced on another workload's run.
        Returns (layer metrics, plan rows, failed documents)."""
        m, rows = self.staged(spark, tracer, "", span="side.corpus_dedup")
        del m["trace.docs_per_s"]
        return m, rows, self.check("")

    def micro(self, seed: int, reps: int = 3) -> dict:
        return {}


# Layers whose own workload BENCHMARK.json leaves out are traced on a kept
# workload's run, each over a small seeded input of its own: the decode
# layer beside the per-span kernel, the curation layers beside the shared-
# media job.
SIDE_LAYERS = {
    "ocr_per_span": "ocr_compressed_unique",
    "ocr_shared_media": "corpus_dedup",
}


def make(workload: str, path: str, manifest: dict):
    if workload == "corpus_dedup":
        return DedupWorkload(path, manifest)
    return OcrWorkload(workload, path, manifest)


def clear(out: str) -> None:
    shutil.rmtree(out, ignore_errors=True)
