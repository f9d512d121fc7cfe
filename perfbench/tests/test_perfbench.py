"""Tests of the benchmark itself (not of the program it measures).

    python3 -m pytest perfbench/tests -q

The end-to-end cases start Spark and take a few minutes.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
import types

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import golden, inputs  # noqa: E402
from perfbench import run as bench  # noqa: E402

SPEC = bench.load_spec()


# --- seeded inputs --------------------------------------------------------------

@pytest.mark.parametrize("workload", inputs.WORKLOADS)
def test_input_hash_is_a_function_of_the_seed(tmp_path, workload):
    built = {
        (root, seed): inputs.ensure_input(
            str(tmp_path / root), workload, seed, "tiny")[1]
        for root, seed in (("a", 5), ("b", 5), ("c", 6))
    }
    same = built[("a", 5)]["input_hash"]
    assert built[("b", 5)]["input_hash"] == same
    assert built[("c", 6)]["input_hash"] != same
    assert built[("a", 5)]["docs"] == inputs.SIZES["tiny"][workload]


def test_cached_input_is_reused(tmp_path):
    path, first = inputs.ensure_input(
        str(tmp_path), "ocr_shared_media", 7, "tiny")
    stamp = os.path.getmtime(os.path.join(path, "manifest.json"))
    _, again = inputs.ensure_input(str(tmp_path), "ocr_shared_media", 7, "tiny")
    assert again == first
    assert os.path.getmtime(os.path.join(path, "manifest.json")) == stamp


# --- golden checks ----------------------------------------------------------------

SPANS = pa.list_(pa.struct([
    ("kind", pa.string()), ("text", pa.string()),
    ("media_ref", pa.string()), ("order", pa.int32()),
]))


def _expected() -> pd.DataFrame:
    return pd.DataFrame({
        "doc_id": ["d1", "d1", "d2", "d3"],
        "order": pd.array([0, 1, 0, 0], dtype="int32"),
        "kind": ["text", "media", "media", "text"],
        "text": ["HELLO", "WORLD", "AND", "US"],
        "media_ref": [None, "img_WORLD_0000", "img_AND_0001", None],
    })


def _write_output(out: str, flat: pd.DataFrame) -> None:
    """Write flat spans the way the job does: (doc_id, spans) partitioned
    by bucket."""
    docs = []
    for doc_id, g in flat.groupby("doc_id", sort=True):
        docs.append({
            "doc_id": doc_id,
            "spans": [
                {"kind": r.kind, "text": r.text, "media_ref": r.media_ref,
                 "order": int(r.order)}
                for r in g.sort_values("order").itertuples()
            ],
            "bucket": len(docs) % 2,
        })
    table = pa.Table.from_pylist(docs, schema=pa.schema(
        [("doc_id", pa.string()), ("spans", SPANS), ("bucket", pa.int64())]))
    pq.write_to_dataset(table, os.path.join(out, "extracted"),
                        partition_cols=["bucket"])
    os.makedirs(os.path.join(out, "metrics"))


def test_golden_output_passes(tmp_path):
    _write_output(str(tmp_path), _expected())
    assert golden.check_ocr(str(tmp_path / "extracted"), _expected()) == 0


@pytest.mark.parametrize("corrupt, n_failed", [
    (lambda f: f.assign(text=f.text.where(f.doc_id != "d2", "ANT")), 1),
    (lambda f: f[f.doc_id != "d3"], 1),
    (lambda f: f[~((f.doc_id == "d1") & (f.order == 1))], 1),
    (lambda f: pd.concat([f, f[f.doc_id == "d2"].assign(order=1)]), 1),
    (lambda f: f.assign(media_ref=None), 2),
    (lambda f: pd.concat([f, f[f.doc_id == "d3"].assign(doc_id="d9")]), 1),
])
def test_corrupted_output_fails_its_documents(tmp_path, corrupt, n_failed):
    _write_output(str(tmp_path), corrupt(_expected()))
    assert golden.check_ocr(str(tmp_path / "extracted"), _expected()) == n_failed


def test_unreadable_output_fails_every_document(tmp_path):
    assert golden.check_ocr(str(tmp_path / "missing"), _expected()) == 3


def test_value_hash_is_order_insensitive_and_value_sensitive():
    df = pd.DataFrame({"a": [2, 1], "b": ["x", "y"]})
    assert golden.value_hash(df) == golden.value_hash(df.iloc[::-1])
    assert golden.value_hash(df) == golden.value_hash(df[["b", "a"]])
    assert golden.value_hash(df) != golden.value_hash(df.assign(a=[2, 3]))


class _FakeWorkload:
    """Writes a (possibly corrupted) output without Spark."""

    n_docs = 3

    def __init__(self, corrupt: bool):
        self.corrupt = corrupt
        self.manifest = {"docs": 3, "media_spans": 2, "distinct_images": 2}

    def job(self, spark, out):
        flat = _expected()
        if self.corrupt:
            flat = flat.assign(text=flat.text.str.lower())
        _write_output(out, flat)

    def check(self, out):
        return golden.check_ocr(os.path.join(out, "extracted"), _expected())


class _FakeSampler:
    def reset(self):
        pass

    def peak(self):
        return 1 << 20


@pytest.mark.parametrize("corrupt", [False, True])
def test_corrupted_output_raises_failed_share(tmp_path, monkeypatch, corrupt):
    monkeypatch.setattr(bench, "WORK", str(tmp_path))
    fake_spark = types.SimpleNamespace(_jvm=types.SimpleNamespace(
        System=types.SimpleNamespace(gc=lambda: None)))
    run = bench.Run("ocr_shared_media", 1, 0.0, False)
    wl = _FakeWorkload(corrupt)
    jobs = run.loop(fake_spark, wl, _FakeSampler())
    setup = {"start_s": 1.0, "spawn_s": 1.0}
    summary = run._summarize({}, wl.manifest, setup, jobs[0], jobs, {}, None)
    line = bench.result_line(summary, SPEC, False)
    expected_share = 1.0 if corrupt else 0.0
    assert summary["per_layer"]["failed_share"] == expected_share
    assert line["failed"] == (line["attempted"] if corrupt else 0)
    assert line["correct"] is not corrupt


# --- the staged chain is the production plan -------------------------------------

@pytest.fixture(scope="module")
def spark():
    from pyspark import SparkContext

    from granulate_char_ocr_spark.session import get_spark

    old = os.environ.get("SPARK_DRIVER_MEM")
    os.environ["SPARK_DRIVER_MEM"] = "1g"
    session = get_spark(app_name="perfbench-tests", master="local[2]",
                        shuffle_partitions=2)
    yield session
    bench.shutdown(session)
    assert SparkContext._gateway is None
    if old is None:
        os.environ.pop("SPARK_DRIVER_MEM")
    else:
        os.environ["SPARK_DRIVER_MEM"] = old


def _plan(df) -> str:
    """The optimized logical plan without expression ids."""
    return re.sub(r"#\d+L?", "",
                  df._jdf.queryExecution().optimizedPlan().toString())


@pytest.mark.parametrize("workload", ["ocr_shared_media", "ocr_per_span"])
def test_staged_chain_has_the_production_plan(tmp_path, spark, workload):
    """The traced run times the layers of ``extract_documents``; if the
    pipeline changes, the staged chain must change with it."""
    from granulate_char_ocr_spark.plans.pipeline import extract_documents

    from perfbench import workloads

    path, manifest = inputs.ensure_input(str(tmp_path), workload, 3, "tiny")
    wl = workloads.make(workload, path, manifest)
    docs = spark.read.parquet(os.path.join(path, "ocr_documents.parquet"))
    media = spark.read.parquet(os.path.join(path, "ocr_media.parquet"))
    staged = wl.chain(docs, media, lambda name, df: df)["assembled"]
    production = extract_documents(docs, media, n_salts=workloads.N_SALTS,
                                   dedup_media=wl.dedup_media)
    assert _plan(staged) == _plan(production)


# --- BENCHMARK.json and end-to-end runs --------------------------------------------

def test_spec_names_the_kept_workloads():
    names = [w["name"] for w in SPEC["workloads"]]
    assert set(names) <= set(inputs.WORKLOADS)
    assert any(m["name"] == "setup_s" for m in SPEC["end_to_end"])


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace),
         "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


# layers a traced run of each workload reports, its side layers included
TRACED = {
    "common": ("extract.kernel_s", "extract.python_total_s",
               "kernels.classify_ms_per_kcrop", "stitch.assemble_s",
               "resume.write_s", "lineage.rows_s", "input.docs",
               "spark.python_init_s"),
    "ocr_per_span": ("skew.salt_exchange_s", "multimodal.decode_store_s",
                     "png.decode_ms_per_kimg", "gif.decode_ms_per_kimg",
                     "tiff.decode_ms_per_kimg", "bmp.decode_ms_per_kimg"),
    "ocr_shared_media": ("pipeline.media_join_s", "dedup.minhash_lsh_s",
                         "dedup.embedding_cosine_s", "curation.tfidf_s",
                         "sampling.dsir_s", "curation.python_total_s"),
}


@pytest.mark.parametrize("workload, trace", [
    ("ocr_shared_media", 1),
    ("ocr_per_span", 1),
    ("ocr_compressed_unique", 0),
    ("corpus_dedup", 0),
])
def test_every_workload_runs_and_prints_every_metric(workload, trace):
    result = _run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    group = SPEC["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in group} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    values = {k: v["value"] for k, v in result["metrics"].items()}
    if trace:
        # the layers this workload runs report something
        for name in TRACED["common"] + TRACED[workload]:
            assert values[name] > 0, name
        assert values["failed_share"] == 0
    else:
        assert all(v > 0 for v in values.values()), values


def test_runs_nowhere_but_a_full_checkout(tmp_path):
    """Beside only BENCHMARK.json and perfbench/, the benchmark fails fast
    without printing a result."""
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ocr_shared_media",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
