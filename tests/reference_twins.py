"""Reference formulations the package's kernels and expressions are
pinned against.

Each twin is either the pure-expression (or pure-SQL) plan a Python
kernel replaced, kept as the cross-check side of a parity test and as
the DuckDB-oracle-shaped build, or the same-logic Python rendering of a
column expression. No package code calls them.
"""

import re

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from granulate_char_ocr_spark import alphabet
from granulate_char_ocr_spark.functions.dom import (
    _BLOCK_SPLIT,
    _DROP_CODE_SUBTREES,
    _LINK_INNER,
    LINK_DENSITY_DEN,
    LINK_DENSITY_NUM,
    MIN_BLOCK_CHARS,
)
from granulate_char_ocr_spark.functions.html import (
    _COMMENT,
    _DEC_ENT,
    _DROP_SUBTREES,
    _ENTITIES_PRE,
    _ENTITY_AMP,
    _HEX_ENT,
    _TAG,
    _WS_CLASS,
    _numeric_entities_sql,
)
from granulate_char_ocr_spark.functions.htmltable import (
    _CELL,
    _DROP_CODE,
    _TABLE,
    _TH,
    _TR,
    CELL_SEP,
)
from granulate_char_ocr_spark.functions.kernels import _bm_geometry
from granulate_char_ocr_spark.functions.markdown import (
    _BLOCK,
    _DROP,
    _HWS,
    _INLINE_J,
)
from granulate_char_ocr_spark.functions.metadata import (
    _CANON_HR,
    _CANON_RH,
    _DESC_DN,
    _DESC_ND,
    _DESC_NS,
    _DESC_SN,
    _LANG,
    _LD_DATE,
    _LD_SCRIPT,
    _NOFOLLOW_TOK,
    _NOINDEX_TOK,
    _PUB_CP,
    _PUB_PC,
    _ROBOTS_PATTERNS,
    _S404_BODY_MAX,
    _S404_MARK,
    _TIME,
    _TITLE,
    _XROB_NOFOLLOW,
    _XROB_NOINDEX,
)
from granulate_char_ocr_spark.functions.mojibake import (
    _HAS_LEAD_RE,
    C1_CONTROLS,
    CP1252_DISPLAY,
    VALID_UTF8_AS_LATIN1_RE,
)
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


def _partition_lineage_distinct(flat: DataFrame) -> DataFrame:
    """Reference formulation of ``lineage.partition_lineage``'s aggregate
    without an expectation: ``countDistinct`` beside the ``collect_set``
    hash and one ``percentile`` per quantile, which plans an Expand, two
    exchanges and four aggregates."""
    rows = flat.withColumn("_pid", F.spark_partition_id())
    n_chars = F.coalesce(F.col("n_chars"), F.lit(0))
    return rows.groupBy("_pid").agg(
        F.xxhash64(F.concat_ws(",", F.sort_array(F.collect_set("doc_id"))))
        .cast("string")
        .alias("partition_hash"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.sum((F.col("kind") == "text").cast("long")).alias("n_text_spans"),
        F.sum((F.col("kind") == "media").cast("long")).alias("n_media_spans"),
        F.sum(n_chars.cast("long")).alias("n_chars"),
        F.round(F.percentile(n_chars, F.lit(0.5)), 2).alias("p50_chars"),
        F.round(F.percentile(n_chars, F.lit(0.9)), 2).alias("p90_chars"),
    ).drop("_pid")


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
    uni = _gram_windows_expr(1, distinct=False)
    bi = _gram_windows_expr(2, distinct=False)
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


def _ngram_jaccard_pairs_joined(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int = 100,
) -> DataFrame:
    """Reference formulation of ``dedup.ngram_jaccard_pairs`` (the r1-r5
    shingle inverted-index self-join + pair hash-agg), kept as the
    cross-check twin the replicated-index kernel is pinned against
    (tests/test_dedup_ops.py). Do not call on large corpora: its join
    fan-out is sum C(df,2) rows through a full shuffle."""
    sh = shingles(docs, n)
    df_cut = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("_df"))
        .filter(F.col("_df") <= max_shingle_df)
        .select("shingle")
    )
    sh = sh.join(df_cut, "shingle")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    l, r = sh.alias("l"), sh.alias("r")
    inter = (
        l.join(
            r,
            (F.col("l.shingle") == F.col("r.shingle"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .groupBy(
            F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .withColumnRenamed("n_sh", "na")
        .join(sizes.withColumnRenamed("doc_id", "doc_b"), "doc_b")
        .withColumnRenamed("n_sh", "nb")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


# --- Python twins of the HTML-family column expressions -----------------
# Same-logic Python (or DuckDB SQL) renderings of functions/html.py,
# htmltable.py, markdown.py, dom.py, metadata.py and mojibake.py; each
# test pins the Spark expression equal to its twin.


def decode_entities_python(out: str) -> str:
    """Python twin of decode_entities_expr."""
    for ent, rep in _ENTITIES_PRE:
        out = out.replace(ent, rep)
    out = _numeric_entities_python(out)
    return out.replace(*_ENTITY_AMP)


def _numeric_entities_python(s: str) -> str:
    parts = s.split("&#")
    out = [parts[0]]
    for p in parts[1:]:
        m = re.match(_DEC_ENT, p) or re.match(_HEX_ENT, p)
        code = (
            None
            if m is None
            else int(m.group(1), 10 if p[0].isdigit() else 16)
        )
        if (
            code is not None
            and 9 <= code <= 0xFFFF
            and not (0xD800 <= code <= 0xDFFF)
        ):
            out.append(chr(code) + p[m.end():])
        else:
            out.append("&#" + p)
    return "".join(out)


def main_text_python(html: str) -> str:
    """Same-logic Python twin (fixtures/goldens)."""
    out = html
    for pat in _DROP_SUBTREES:
        out = re.sub(pat, " ", out)
    out = re.sub(_COMMENT, " ", out)
    out = re.sub(_TAG, " ", out)
    out = decode_entities_python(out)
    # strip(" ") not strip(): Python's bare strip eats Unicode whitespace
    # (NBSP) that Spark/DuckDB trim() leave alone
    return re.sub(_WS_CLASS, " ", out).strip(" ")


def main_text_oracle_sql(col_sql: str) -> str:
    """The byte-identical DuckDB (RE2) transform for the oracle side."""
    out = col_sql
    for pat in _DROP_SUBTREES:
        out = f"regexp_replace({out}, '{pat}', ' ', 'g')"
    out = f"regexp_replace({out}, '{_COMMENT}', ' ', 'g')"
    out = f"regexp_replace({out}, '{_TAG}', ' ', 'g')"
    for ent, rep in _ENTITIES_PRE:
        lit = rep.replace("'", "''")
        out = f"replace({out}, '{ent}', '{lit}')"
    out = _numeric_entities_sql(out)
    out = f"replace({out}, '{_ENTITY_AMP[0]}', '{_ENTITY_AMP[1]}')"
    return rf"trim(regexp_replace({out}, '{_WS_CLASS}', ' ', 'g'))"


def table_rows_python(html: str) -> list[tuple[int, int, bool, list[str]]]:
    """Same-logic Python twin (fixtures): [(table_idx, row_idx,
    is_header, [cell, …]), …]."""
    h = html
    for pat in _DROP_CODE:
        h = re.sub(pat, " ", h)
    h = re.sub(_COMMENT, " ", h)
    out = []
    for ti, tbl in enumerate(re.findall(_TABLE, h)):
        for ri, row in enumerate(re.findall(_TR, tbl)):
            cells = []
            for c in re.findall(_CELL, row):
                c = re.sub(_TAG, " ", c)
                c = decode_entities_python(c)
                c = c.replace(CELL_SEP, " ")  # &#31; == the separator
                # strip(" ") not strip(): Spark/DuckDB trim() leave
                # Unicode whitespace (NBSP) alone
                cells.append(re.sub(_WS_CLASS, " ", c).strip(" "))
            if cells:
                out.append((ti, ri, re.search(_TH, row) is not None, cells))
    return out


_INLINE_P = [  # \n replacements (Python twin)
    (p, j.replace("$1", "\\1").replace("$2", "\\2")) for p, j in _INLINE_J
]


def to_markdown_python(html: str) -> str:
    """Same-logic Python twin (fixtures/property tests)."""
    out = re.sub(_WS_CLASS, " ", html)
    for pat in _DROP:
        out = re.sub(pat, " ", out)
    for pat, rep in _BLOCK:
        out = re.sub(pat, rep, out)
    for pat, rep in _INLINE_P:
        out = re.sub(pat, rep, out)
    out = re.sub(_TAG, " ", out)
    out = decode_entities_python(out)
    out = re.sub(_HWS, " ", out)
    out = re.sub(r" *\n *", "\n", out)
    out = re.sub(r"\n{3,}", "\n\n", out)
    return out.strip(" \n")


def _flat_python(s: str) -> str:
    return re.sub(_WS_CLASS, " ", re.sub(_TAG, " ", s)).strip(" ")


def main_content_python(html: str) -> str:
    """Same-logic Python twin (fixtures/goldens)."""
    out = html
    for pat in _DROP_CODE_SUBTREES:
        out = re.sub(pat, " ", out)
    out = re.sub(_COMMENT, " ", out)
    kept = []
    for b in re.split(_BLOCK_SPLIT, out):
        t = _flat_python(b)
        ln = len(_flat_python(" ".join(re.findall(_LINK_INNER, b))))
        if (
            len(t) >= MIN_BLOCK_CHARS
            and ln * LINK_DENSITY_DEN <= len(t) * LINK_DENSITY_NUM
        ):
            kept.append(t)
    joined = " ".join(kept)
    for ent, rep in _ENTITIES_PRE:
        joined = joined.replace(ent, rep)
    joined = _numeric_entities_python(joined)
    joined = joined.replace(*_ENTITY_AMP)
    return re.sub(_WS_CLASS, " ", joined).strip(" ")


def _first_py(s: str, *patterns: str) -> str | None:
    for p in patterns:
        m = re.search(p, s)
        if m and m.group(1) != "":
            return m.group(1)
    return None


def _clean_text_py(s: str | None) -> str | None:
    if s is None:
        return None
    out = re.sub(_WS_CLASS, " ", decode_entities_python(s)).strip()
    return out or None


def _published_py(html: str) -> str | None:
    block = _first_py(html, _LD_SCRIPT)
    ld = _first_py(block, _LD_DATE) if block else None
    return ld or _first_py(html, _PUB_PC, _PUB_CP, _TIME)


def page_metadata_python(html: str) -> dict[str, str | None]:
    """Python twin of page_metadata_cols over one page."""
    return {
        "title": _clean_text_py(_first_py(html, _TITLE)),
        "lang": _first_py(html, _LANG),
        "canonical_url": _first_py(html, _CANON_RH, _CANON_HR),
        "description": _clean_text_py(
            _first_py(html, _DESC_ND, _DESC_NS, _DESC_DN, _DESC_SN)
        ),
        "published": _published_py(html),
    }


def indexability_python(
    html: str, headers: str | None = None
) -> dict[str, bool]:
    """Python twin of indexability_cols over one page."""
    c = _first_py(html, *_ROBOTS_PATTERNS) or ""
    h = headers or ""
    noindex = bool(re.search(_NOINDEX_TOK, c)) or bool(
        re.search(_XROB_NOINDEX, h)
    )
    nofollow = bool(re.search(_NOFOLLOW_TOK, c)) or bool(
        re.search(_XROB_NOFOLLOW, h)
    )
    title = _clean_text_py(_first_py(html, _TITLE)) or ""
    # .strip(" ") — ASCII space only, mirroring F.trim exactly (a bare
    # .strip() also eats \t\n\r and diverges the <200-char length check)
    body = re.sub(_TAG, " ", html).strip(" ")
    soft404 = bool(re.search(_S404_MARK, title)) or (
        bool(re.search(_S404_MARK, body)) and len(body) < _S404_BODY_MAX
    )
    return {"noindex": noindex, "nofollow": nofollow, "soft404": soft404}


_UNDISPLAY_TABLE = str.maketrans(CP1252_DISPLAY, C1_CONTROLS)


_DISPLAY_TABLE = str.maketrans(C1_CONTROLS, CP1252_DISPLAY)


_VALID_RE = re.compile(VALID_UTF8_AS_LATIN1_RE)


_LEAD_RE = re.compile(_HAS_LEAD_RE)


def mojibake_python(s: str | None) -> str | None:
    if s is None:
        return None
    return s.encode("utf-8").decode("latin-1").translate(_DISPLAY_TABLE)


def is_mojibake_python(s: str | None) -> bool:
    if s is None:
        return False
    u = s.translate(_UNDISPLAY_TABLE)
    return bool(_VALID_RE.match(u)) and bool(_LEAD_RE.search(u))


def fix_mojibake_python(s: str | None) -> str | None:
    if s is None:
        return None
    u = s.translate(_UNDISPLAY_TABLE)
    if _VALID_RE.match(u) and _LEAD_RE.search(u):
        return u.encode("latin-1").decode("utf-8")
    return s


# --- NumPy twins of the image kernels -------------------------------------


def _pool(img: np.ndarray, kh: int, kw: int, reduce_max: bool) -> np.ndarray:
    """Max (dilate) / min (erode) over a kh×kw rect anchored like cv2 (origin
    at kernel center, ties to top-left for even sizes): the generic form of
    kernels._dilate2 / _erode2."""
    pads = ((kh - 1) // 2, kh // 2, (kw - 1) // 2, kw // 2)
    if reduce_max:
        padded = np.pad(img, ((pads[0], pads[1]), (pads[2], pads[3])), constant_values=0)
        op = np.maximum
    else:
        padded = np.pad(img, ((pads[0], pads[1]), (pads[2], pads[3])), constant_values=255)
        op = np.minimum
    h, w = img.shape
    out = padded[0:h, 0:w].copy()
    for dy in range(kh):
        for dx in range(kw):
            if dy == 0 and dx == 0:
                continue
            out = op(out, padded[dy : dy + h, dx : dx + w])
    return out


def ahash_bits_single(img: np.ndarray) -> np.ndarray:
    """One image's aHash through a 2-D block-mean (two reduceat passes):
    the per-image form of kernels.ahash_bits_batch."""
    h, w = img.shape
    ys, xs, counts = _bm_geometry(h, w, alphabet.HASH_SIDE, alphabet.HASH_SIDE)
    colsum = np.add.reduceat(img.astype(np.int32), ys, axis=0)
    small = np.add.reduceat(colsum, xs, axis=1) / counts
    return (small > small.mean()).astype(np.uint8).reshape(-1)
