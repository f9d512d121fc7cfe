"""Seeded benchmark inputs: a pure function of (workload, seed), cached.

Every input is built from the seed alone and written under
``<cache>/<workload>-s<seed>-n<docs>-<INPUT_VERSION>/``; a finished build
carries a ``manifest.json`` (written last) holding the input hash and
counts, so a half-written directory is never reused. The OCR corpora are
generated on the host's nproc cores by worker processes, before the measured
Spark session starts; nothing reads the ``sources.synthetic`` memoized
DataFrame caches.

Each input carries the golden the run's output is checked against:

* OCR workloads: flat expected spans ``(doc_id, order, kind, text,
  media_ref)`` — from the generator for the interleaved corpus, and the
  seeded word of each unique image for the compressed one;
* ``corpus_dedup``: one value hash per query from its DuckDB oracle SQL.
"""

from __future__ import annotations

import functools
import gc
import hashlib
import importlib.util
import json
import multiprocessing
import os
import shutil
from multiprocessing import resource_tracker

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# bump when a generator changes shape, so stale caches are never reused
INPUT_VERSION = "v3"

OCR_WORKLOADS = ("ocr_shared_media", "ocr_per_span", "ocr_compressed_unique")
WORKLOADS = OCR_WORKLOADS + ("corpus_dedup",)

# documents per workload input; "tiny" is the benchmark's test size
SIZES = {
    "default": {
        "ocr_shared_media": 1200,
        "ocr_per_span": 1200,
        "ocr_compressed_unique": 1200,
        "corpus_dedup": 500,
    },
    "tiny": {
        "ocr_shared_media": 120,
        "ocr_per_span": 120,
        "ocr_compressed_unique": 48,
        "corpus_dedup": 120,
    },
    # the inputs of layers traced on another workload's run
    "side": {
        "ocr_compressed_unique": 240,
        "corpus_dedup": 120,
    },
}

# embeddings per document in the corpus_dedup replica (gen_sf's sf ratio)
EMBEDDINGS_PER_DOC = 0.4
VOCAB_WORDS = 31  # the documents table draws from a 31-word vocabulary

MEDIA_SCHEMA = pa.schema([
    ("media_ref", pa.string()), ("word", pa.string()),
    ("width", pa.int32()), ("height", pa.int32()), ("pixels", pa.binary()),
])
EXPECTED_SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("order", pa.int32()),
        ("kind", pa.string()),
        ("text", pa.string()),
        ("media_ref", pa.string()),
    ]
)

# the seven corpus-dedup queries; winnow is oracled but outside QUERIES
DEDUP_QUERIES = (
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "simhash_near_pairs",
    "dedup_embedding_cosine",
    "winnow_fingerprints_docs",
    "tfidf_top_terms_docs",
    "dsir_select_docs",
)


def input_dir(cache_root: str, workload: str, seed: int, size: str) -> str:
    return os.path.join(
        cache_root,
        f"{workload}-s{seed}-n{SIZES[size][workload]}-{INPUT_VERSION}",
    )


def load_manifest(path: str) -> dict | None:
    try:
        with open(os.path.join(path, "manifest.json")) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def ensure_input(cache_root: str, workload: str, seed: int,
                 size: str = "default") -> tuple[str, dict]:
    """Return (input dir, manifest), building the input if not cached."""
    path = input_dir(cache_root, workload, seed, size)
    manifest = load_manifest(path)
    if manifest is not None:
        return path, manifest
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    n_docs = SIZES[size][workload]
    if workload == "corpus_dedup":
        counts = _build_dedup(path, n_docs, seed)
    elif workload == "ocr_compressed_unique":
        counts = _build_compressed(path, n_docs, seed)
    else:
        counts = _build_interleaved(path, n_docs, seed)
    manifest = {
        "workload": workload,
        "seed": seed,
        "size": size,
        "version": INPUT_VERSION,
        "input_hash": input_hash(path, workload),
        **counts,
    }
    tmp = os.path.join(path, "manifest.json.tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    os.replace(tmp, os.path.join(path, "manifest.json"))
    return path, manifest


# --- hashing ------------------------------------------------------------------

_HASH_KEYS = {
    "ocr_documents.parquet": "doc_id",
    "ocr_media.parquet": "media_ref",
    "expected.parquet": ["doc_id", "order"],
    "documents.parquet": "doc_id",
    "embeddings.parquet": "vec_id",
}


def table_hash(table: pa.Table, key) -> str:
    """Order-insensitive content hash of a table (rows sorted by ``key``)."""
    keys = [key] if isinstance(key, str) else list(key)
    table = table.sort_by([(k, "ascending") for k in keys])
    h = hashlib.sha256(repr(table.schema.names).encode())
    for row in table.to_pylist():
        h.update(repr(row).encode())
    return h.hexdigest()


def input_hash(path: str, workload: str) -> str:
    """Hash of every input table the program reads, plus the golden."""
    h = hashlib.sha256(workload.encode())
    for name in sorted(_HASH_KEYS):
        full = os.path.join(path, name)
        if os.path.exists(full):
            h.update(name.encode())
            h.update(table_hash(pq.read_table(full), _HASH_KEYS[name]).encode())
    return h.hexdigest()


# --- generation on nproc worker processes -------------------------------------

def _chunks(first: int, n: int, seed: int) -> list[tuple[int, int, int]]:
    """(lo, hi, seed) index ranges, one per worker."""
    step = -(-n // len(os.sched_getaffinity(0)))
    return [(lo, min(lo + step, first + n), seed)
            for lo in range(first, first + n, step)]


def _pool_map(fn, chunks: list) -> list:
    """``fn`` over ``chunks`` on nproc fresh worker processes, in order.
    Inputs are built outside the measured Spark session, so building one
    (or finding it cached) leaves that JVM in the same state."""
    ctx = multiprocessing.get_context("spawn")
    pool = ctx.Pool(min(len(os.sched_getaffinity(0)), len(chunks)))
    try:
        return pool.map(fn, chunks)
    finally:
        pool.close()
        pool.join()
        # free the pool's semaphores, then stop the spawn context's resource
        # tracker, which would otherwise outlive the run
        del pool
        gc.collect()
        resource_tracker._resource_tracker._stop()


# --- ocr_shared_media / ocr_per_span: the interleaved synthetic corpus --------

SPANS_IN = pa.list_(pa.struct([
    ("kind", pa.string()), ("text", pa.string()),
    ("media_ref", pa.string()), ("offset", pa.int32()),
]))
DOCS_SCHEMA = pa.schema([("doc_id", pa.string()), ("spans", SPANS_IN)])


def _interleaved_chunk(args) -> tuple[list[dict], list[tuple]]:
    """Documents [lo, hi) of ``sources.synthetic``'s corpus, and their
    expected spans as flat rows."""
    from granulate_char_ocr_spark.sources.synthetic import _doc

    lo, hi, seed = args
    docs, rows = [], []
    for i in range(lo, hi):
        doc, exp = _doc(i, seed)
        docs.append(doc)
        rows.extend(
            (exp["doc_id"], s["order"], s["kind"], s["text"], s["media_ref"])
            for s in exp["spans"]
        )
    return docs, rows


def _write_docs(path: str, docs: list[dict]) -> None:
    # small row groups keep the scan splittable, as sources.synthetic does
    pq.write_table(pa.Table.from_pylist(docs, schema=DOCS_SCHEMA), path,
                   row_group_size=1024)


def _build_interleaved(path, n_docs, seed) -> dict:
    from granulate_char_ocr_spark.sources import synthetic

    parts = _pool_map(_interleaved_chunk, _chunks(0, n_docs, seed))
    docs = [d for p in parts for d in p[0]]
    rows = [r for p in parts for r in p[1]]
    _write_docs(os.path.join(path, "ocr_documents.parquet"), docs)
    expected = pa.table(
        {f.name: pa.array(c, f.type)
         for f, c in zip(EXPECTED_SCHEMA, zip(*rows))},
        schema=EXPECTED_SCHEMA,
    )
    pq.write_table(expected, os.path.join(path, "expected.parquet"))
    media = pa.Table.from_pandas(
        synthetic.glyph_media_pandas(), schema=MEDIA_SCHEMA,
        preserve_index=False,
    )
    pq.write_table(media, os.path.join(path, "ocr_media.parquet"))
    media_refs = [r[4] for r in rows if r[2] == "media"]
    return {
        "docs": n_docs,
        "media_spans": len(media_refs),
        "distinct_images": len(set(media_refs)),
    }


# --- ocr_compressed_unique: one unique encoded image per document -------------

FORMATS = ("png", "gif", "tiff", "bmp")


def compressed_choice(i: int, seed: int) -> tuple[str, int, int, str]:
    """(word, variant, right pad, format) of image ``i`` under ``seed``.
    The 1..16 blank right columns vary the payload without touching
    segmentation; the format cycles so every codec carries a quarter."""
    from granulate_char_ocr_spark.sources.synthetic import N_VARIANTS, WORDS

    rng = np.random.default_rng([seed, i, 17])
    word = WORDS[int(rng.integers(0, len(WORDS)))]
    return (
        word,
        int(rng.integers(0, N_VARIANTS)),
        1 + int(rng.integers(0, 16)),
        FORMATS[i % len(FORMATS)],
    )


def encode_image(i: int, seed: int) -> tuple[str, int, int, bytes]:
    """(word, width, height, payload) of image ``i``."""
    from granulate_char_ocr_spark.functions.bmp import encode_bmp
    from granulate_char_ocr_spark.functions.gif import encode_gif
    from granulate_char_ocr_spark.functions.png import encode_png
    from granulate_char_ocr_spark.functions.tiff import encode_tiff
    from granulate_char_ocr_spark.sources.synthetic import render_word

    word, variant, pad, fmt = compressed_choice(i, seed)
    img = np.pad(render_word(word, variant), ((0, 0), (0, pad)))
    if fmt == "png":
        payload = encode_png(img, filter_type=(i // 4) % 5)
    elif fmt == "gif":
        pal = np.array([[0, 0, 0], [255, 255, 255]], dtype=np.uint8)
        payload = encode_gif((img > 0).astype(np.uint8), pal)
    elif fmt == "tiff":
        payload = encode_tiff(img, compression=5)  # LZW
    else:
        payload = encode_bmp(img)
    return word, img.shape[1], img.shape[0], payload


def compressed_ref(i: int) -> str:
    return f"img_u_{i:08d}"


def format_of(media_ref: str) -> str:
    """Codec of a compressed-store image, from its index."""
    return FORMATS[int(media_ref.rsplit("_", 1)[1]) % len(FORMATS)]


def _compressed_chunk(args) -> list[tuple]:
    lo, hi, seed = args
    return [(compressed_ref(i), *encode_image(i, seed)) for i in range(lo, hi)]


def _build_compressed(path, n_docs, seed) -> dict:
    parts = _pool_map(_compressed_chunk, _chunks(0, n_docs, seed))
    rows = [r for p in parts for r in p]
    refs = [r[0] for r in rows]
    doc_ids = ["cdoc_" + ref[len("img_u_"):] for ref in refs]
    media = pa.table(
        {f.name: pa.array(c, f.type) for f, c in zip(MEDIA_SCHEMA, zip(*rows))},
        schema=MEDIA_SCHEMA,
    )
    pq.write_table(media, os.path.join(path, "ocr_media.parquet"))
    _write_docs(
        os.path.join(path, "ocr_documents.parquet"),
        [
            {"doc_id": doc_id,
             "spans": [{"kind": "media", "text": None, "media_ref": ref,
                        "offset": 0}]}
            for doc_id, ref in zip(doc_ids, refs)
        ],
    )
    expected = pa.table(
        {
            "doc_id": doc_ids,
            "order": pa.array([0] * len(rows), pa.int32()),
            "kind": ["media"] * len(rows),
            "text": [r[1] for r in rows],
            "media_ref": refs,
        },
        schema=EXPECTED_SCHEMA,
    )
    pq.write_table(expected, os.path.join(path, "expected.parquet"))
    return {"docs": n_docs, "media_spans": n_docs, "distinct_images": n_docs}


# --- corpus_dedup: single-row-group documents + embeddings replica ------------

@functools.cache
def tool(name: str):
    """A script under tools/, loaded by path (tools/ is not a package)."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        name, os.path.join(root, "tools", f"{name}.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _seeded_vocab(seed: int) -> list[str]:
    rng = np.random.default_rng([seed, 31])
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < VOCAB_WORDS:
        n = int(rng.integers(1, 11))
        words.add("".join(rng.choice(letters, size=n)))
    return sorted(words)


def _build_dedup(path, n_docs, seed) -> dict:
    import contextlib
    import io

    gen_sf = tool("gen_sf")
    vocab_dir = os.path.join(path, "vocab")
    os.makedirs(vocab_dir)
    pq.write_table(
        pa.table({"text": [" ".join(_seeded_vocab(seed))]}),
        os.path.join(vocab_dir, "documents.parquet"),
    )
    gen_sf.SRC = vocab_dir  # gen_documents draws its vocabulary from SRC
    rng = np.random.default_rng(seed)
    with contextlib.redirect_stdout(io.StringIO()):  # gen_sf prints counts
        # gen_sf writes one row group per file, the oracle gate's layout
        gen_sf._write(path, "documents", gen_sf.gen_documents(rng, n_docs))
        gen_sf._write(
            path, "embeddings",
            gen_sf.gen_embeddings(rng, max(8, int(n_docs * EMBEDDINGS_PER_DOC))),
        )
    oracle = dedup_oracle_hashes(path)
    with open(os.path.join(path, "oracle_hashes.json"), "w") as f:
        json.dump(oracle, f, indent=1, sort_keys=True)
    return {"docs": n_docs, "media_spans": 0, "distinct_images": 0}


def dedup_oracle_sql() -> dict[str, str]:
    from granulate_char_ocr_spark import driver_queries as dq

    return {
        name: dq.WINNOW_ORACLE if name == "winnow_fingerprints_docs"
        else dq.ORACLES[name]
        for name in DEDUP_QUERIES
    }


def dedup_oracle_hashes(path: str) -> dict[str, str]:
    """Value hash of each query's DuckDB oracle over the replica."""
    import duckdb

    from perfbench.golden import value_hash

    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{os.path.join(path, t + '.parquet')}'"
            )
        return {
            name: value_hash(con.execute(sql).df())
            for name, sql in dedup_oracle_sql().items()
        }
    finally:
        con.close()
