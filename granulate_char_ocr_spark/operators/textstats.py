"""Text-analysis operators over a document corpus: language-ID, quality
scoring, fingerprinting. Column expressions (whole-stage codegen) where
Catalyst can say it; winnowing runs as a per-document text kernel
(operators/doc_kernel.py). Each has an exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Per-language stopword marker sets: the ~50 highest-frequency function
# words of each language (standard public stopword corpora — the same
# closed-class-word evidence real lexical language-ID uses; VERDICT r2
# item 9 replaced the 4-word toy sets). Ordered — first language whose
# marker count wins takes the prediction. Tokens match exactly (lowercase,
# whitespace-split), so classification is one IN-set membership filter per
# language — pure whole-stage codegen, no UDF.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": (
        "the", "and", "of", "is", "in", "to", "a", "that", "it", "was",
        "for", "on", "are", "as", "with", "his", "they", "i", "at", "be",
        "this", "have", "from", "or", "had", "by", "not", "but", "what",
        "all", "were", "we", "when", "your", "can", "there", "an", "which",
        "she", "do", "how", "their", "if", "will", "up", "other", "about",
        "out", "then", "so",
    ),
    "es": (
        "el", "la", "de", "que", "y", "a", "en", "un", "una", "se", "no",
        "los", "las", "por", "con", "su", "para", "como", "es", "lo", "le",
        "todo", "pero", "más", "hacer", "o", "este", "esta", "ir", "otro",
        "ese", "si", "me", "ya", "porque", "cuando", "él", "muy", "sin",
        "vez", "mucho", "sobre", "también", "hasta", "hay", "donde",
        "quien", "desde", "nos", "durante",
    ),
    "fr": (
        "le", "la", "les", "de", "des", "du", "et", "en", "un", "une",
        "que", "qui", "est", "pour", "dans", "par", "plus", "pas", "au",
        "aux", "sur", "ne", "se", "ce", "il", "elle", "sont", "avec",
        "son", "sa", "ses", "ont", "mais", "comme", "ou", "si", "leur",
        "y", "nous", "vous", "je", "tu", "cette", "ces", "être", "fait",
        "tout", "bien", "deux", "même",
    ),
    "de": (
        "der", "die", "und", "das", "in", "den", "von", "zu", "mit",
        "sich", "des", "auf", "für", "ist", "im", "dem", "nicht", "ein",
        "eine", "als", "auch", "es", "an", "werden", "aus", "er", "hat",
        "dass", "sie", "nach", "wird", "bei", "einer", "um", "am", "sind",
        "noch", "wie", "einem", "über", "einen", "so", "zum", "war",
        "haben", "nur", "oder", "aber", "vor", "zur",
    ),
}

PUNCT_CLASS = r"[.,!?;:]"

# Unicode script blocks for scripts the stopword markers cannot see
# (VERDICT r3 item 2: zh/ja text has no whitespace tokens; Cyrillic/
# Greek/Arabic/Hebrew text has whitespace tokens but zero Latin
# markers). Counted per CHARACTER via regexp_count — the `\x{...}` class
# syntax parses identically in Java regex (Spark) and RE2 (the DuckDB
# oracle), parity pinned by tests/test_textstats_cjk.py. kana is
# definitive Japanese evidence (Chinese never uses it), hangul Korean,
# Han-without-kana Chinese — the standard script-ladder heuristic.
SCRIPT_RANGES: dict[str, str] = {
    # hiragana + katakana + halfwidth katakana
    "kana": r"[\x{3040}-\x{309F}\x{30A0}-\x{30FF}\x{FF66}-\x{FF9D}]",
    # hangul syllables + jamo + compatibility jamo
    "hangul": r"[\x{AC00}-\x{D7A3}\x{1100}-\x{11FF}\x{3130}-\x{318F}]",
    # CJK Unified Ideographs + Extension A + compatibility ideographs
    "han": r"[\x{3400}-\x{4DBF}\x{4E00}-\x{9FFF}\x{F900}-\x{FAFF}]",
    # Cyrillic + supplement
    "cyrillic": r"[\x{0400}-\x{04FF}\x{0500}-\x{052F}]",
    # Greek and Coptic + Greek Extended
    "greek": r"[\x{0370}-\x{03FF}\x{1F00}-\x{1FFF}]",
    # Arabic + supplement + presentation forms
    # presentation forms end at FEFE: U+FEFF is ZWNBSP/BOM (script=Common),
    # a stray ingest BOM must not count as Arabic evidence
    "arabic": r"[\x{0600}-\x{06FF}\x{0750}-\x{077F}\x{FB50}-\x{FDFF}\x{FE70}-\x{FEFE}]",
    # Hebrew + presentation forms
    "hebrew": r"[\x{0590}-\x{05FF}\x{FB1D}-\x{FB4F}]",
}

# mono-script alphabetic scripts map to their majority language — a
# macro-language guess (Cyrillic could be uk/bg/sr, Arabic script fa/ur),
# the standard first-pass heuristic when no per-language marker sets
# exist for the script; the marker argmax refines only Latin-script text
SCRIPT_LANG: dict[str, str] = {
    "cyrillic": "ru",
    "greek": "el",
    "arabic": "ar",
    "hebrew": "he",
}

# alphabetic scripts are counted in CHARACTERS but Latin markers in
# TOKENS — one quoted foreign word (~5 chars) must not outvote real
# English marker evidence, so alphabetic script hits must exceed
# ~word-length × the best marker count (CJK needs no factor: one char
# IS roughly one word there)
ALPHA_SCRIPT_CHARS_PER_WORD = 5


def _marker_hits(lang: str) -> F.Column:
    """Marker-token occurrence count (with multiplicity): one IN-set
    membership filter over the token array — a single expression per
    language no matter how many markers (50 per-word counters would bloat
    codegen ~200 expressions across the four languages)."""
    toks = F.split(F.col("text"), " ")
    markers = LANG_MARKERS[lang]
    return F.size(F.filter(toks, lambda t: t.isin(*markers)))


def lang_id(docs: DataFrame) -> DataFrame:
    """(doc_id, predicted_lang): argmax of stopword-marker hits, with
    script-character evidence at the head of the ladder; 'und' when nothing
    matches. A CJK language wins when its character count exceeds the best
    Latin marker count (one char ≈ one word there); the alphabetic scripts
    (ru/el/ar/he) need ALPHA_SCRIPT_CHARS_PER_WORD× that — a lone quoted
    foreign word inside an English sentence stays 'en', while a sentence in
    the script (zero Latin markers by construction) classifies by script.
    Deterministic tie-break: ladder order (ja, ko, zh, the SCRIPT_LANG
    alphabets in declaration order, then language declaration order)."""
    scored = docs.select(
        "doc_id",
        *[_marker_hits(lg).alias(f"hits_{lg}") for lg in LANG_MARKERS],
        *[
            F.regexp_count("text", F.lit(p)).alias(f"hits_{s}")
            for s, p in SCRIPT_RANGES.items()
        ],
    )
    best = None
    pred = F.lit("und")
    # build a when-ladder: later langs win only on strictly greater hits
    for lg in LANG_MARKERS:
        c = F.col(f"hits_{lg}")
        if best is None:
            best = c
            pred = F.when(c > 0, F.lit(lg)).otherwise(F.lit("und"))
        else:
            pred = F.when((c > best) & (c > 0), F.lit(lg)).otherwise(pred)
            best = F.greatest(best, c)
    kana, hangul, han = (
        F.col("hits_kana"), F.col("hits_hangul"), F.col("hits_han"),
    )
    # script head of the ladder: kana → ja (Japanese text mixes kanji and
    # kana, so Han characters count toward the ja score); hangul → ko;
    # Han with NO kana → zh; then the mono-script alphabets in
    # declaration order
    script_pred = pred
    for script, lang in reversed(SCRIPT_LANG.items()):
        script_pred = F.when(
            F.col(f"hits_{script}") > ALPHA_SCRIPT_CHARS_PER_WORD * best,
            F.lit(lang),
        ).otherwise(script_pred)
    pred = (
        F.when((kana > 0) & ((kana + han) > best), F.lit("ja"))
        .when(hangul > best, F.lit("ko"))
        .when((han > best) & (kana == 0), F.lit("zh"))
        .otherwise(script_pred)
    )
    return scored.select("doc_id", pred.alias("predicted_lang"))


def quality_score(docs: DataFrame) -> DataFrame:
    """(doc_id, n_chars_m, punct_ratio, stopword_ratio, mean_token_len,
    quality): length/punct/stopword heuristics → a [0,1] score (the
    reference's edge-density quality sweep analog, SURVEY §2.8 F22)."""
    toks = F.split(F.col("text"), " ")
    length = F.length("text")
    punct = length - F.length(F.regexp_replace("text", PUNCT_CLASS, ""))
    stop_hits = None
    for lg in LANG_MARKERS:
        h = _marker_hits(lg)
        stop_hits = h if stop_hits is None else stop_hits + h
    n_tokens = F.size(toks)
    punct_ratio = F.round(punct / F.greatest(length, F.lit(1)), 6)
    stop_ratio = F.round(stop_hits / F.greatest(n_tokens, F.lit(1)), 6)
    mean_tok = F.round(
        (length - (n_tokens - 1)) / F.greatest(n_tokens, F.lit(1)), 6
    )
    quality = F.round(
        F.least(length / F.lit(500.0), F.lit(1.0)) * 0.4
        + F.least(stop_ratio * F.lit(5.0), F.lit(1.0)) * 0.4
        + (F.lit(1.0) - F.least(punct_ratio * F.lit(10.0), F.lit(1.0))) * 0.2,
        6,
    )
    return docs.select(
        "doc_id",
        length.alias("n_chars_m"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stopword_ratio"),
        mean_tok.alias("mean_token_len"),
        quality.alias("quality"),
    )


def repetition_signals(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, dup_word_frac, top2_char_frac, top3_char_frac,
    dup5_char_frac): the Gopher repetition filters (Rae et al. 2021,
    'Scaling Language Models: ... Gopher', Table A1 — the standard
    LLM-corpus curation rules alongside the length/stopword heuristics
    in quality_score):

    - dup_word_frac: fraction of word occurrences beyond each word's
      first (1 - types/tokens) — the coarsest repetition signal.
    - topN_char_frac (N=2,3): characters covered by all occurrences of
      the single most frequent word N-gram, over total characters.
      Ties break to the longer gram; grams tied on both count and
      length have identical coverage, so the value is deterministic.
    - dup5_char_frac: characters in occurrences of DUPLICATED 5-grams
      over characters in all 5-gram occurrences (the overlap-counting
      proxy the open reimplementations use; exact span coverage is
      ill-defined for overlapping grams).

    Docs with fewer than N tokens score 0 for that signal. Shape: one
    projection builds (n, gram) pairs for n in {2,3,5}, ONE explode,
    count per (doc_id, n, gram), conditional re-aggregate per doc, one
    doc_id equi-join back to the base stats — no UDF, no all-pairs,
    both shuffles keyed on doc_id, so the plan is the same at 100x."""
    toks = F.split(F.col("text"), " ")
    base = docs.select(
        "doc_id",
        F.greatest(F.length("text"), F.lit(1)).alias("n_chars"),
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_types"),
    )

    def grams(n: int) -> str:
        # word n-grams, space-joined, tagged with n
        return (
            f"transform(sequence(1, greatest(size(_toks) - {n - 1}, 1)), "
            f"i -> struct({n} as n, "
            f"array_join(slice(_toks, i, {n}), ' ') as gram))"
        )

    pairs = (
        docs.select(F.col("doc_id"), F.split("text", " ").alias("_toks"))
        .where(F.size("_toks") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"concat({grams(2)}, {grams(3)}, {grams(5)})"
                )
            ).alias("g"),
            F.size("_toks").alias("_nt"),
        )
        # sequence(1, greatest(.., 1)) pads short docs with one
        # truncated gram — drop grams past the real count
        .where(F.col("g.n") <= F.col("_nt"))
    )
    counted = pairs.groupBy("doc_id", "g").agg(F.count("*").alias("cnt"))
    glen = F.length("g.gram")
    cov = F.col("cnt") * glen

    def top(n: int) -> F.Column:
        s = F.when(
            F.col("g.n") == n, F.struct(F.col("cnt"), glen.alias("len"))
        )
        return F.max(s)

    per_doc = counted.groupBy("doc_id").agg(
        top(2).alias("top2"),
        top(3).alias("top3"),
        F.sum(
            F.when((F.col("g.n") == 5) & (F.col("cnt") > 1), cov)
        ).alias("dup5_chars"),
        F.sum(F.when(F.col("g.n") == 5, cov)).alias("tot5_chars"),
    )

    def frac(t: str) -> F.Column:
        return F.round(
            F.coalesce(
                F.col(f"{t}.cnt") * F.col(f"{t}.len") / F.col("n_chars"),
                F.lit(0.0),
            ),
            6,
        )

    return base.join(per_doc, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.round(
            1.0 - F.col("n_types") / F.greatest("n_tokens", F.lit(1)), 6
        ).alias("dup_word_frac"),
        frac("top2").alias("top2_char_frac"),
        frac("top3").alias("top3_char_frac"),
        F.round(
            F.coalesce(
                F.col("dup5_chars")
                / F.greatest(F.col("tot5_chars"), F.lit(1)),
                F.lit(0.0),
            ),
            6,
        ).alias("dup5_char_frac"),
    )


def fingerprint(docs: DataFrame) -> DataFrame:
    """(doc_id, fp): md5 document fingerprint of case/whitespace-normalized
    text (the cheap exact-dup key; rolling/simhash variants in dedup.py)."""
    norm = F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))
    return docs.select("doc_id", F.md5(norm).alias("fp"))


# BPE-style pre-tokenizer: letter runs / digit runs / punctuation runs, each
# optionally glued to one leading space, else whitespace runs — the GPT-2
# pre-tokenizer shape minus its trailing-space lookahead (RE2, the oracle
# engine's regex, has no lookahead; leftmost-first alternation is identical
# in Java regex and RE2, so both engines count the same matches).
BPE_PATTERN = r" ?\p{L}+| ?\p{N}+| ?[^\p{L}\p{N} \t\r\n]+|[ \t\r\n]+"


def bpe_token_count(docs: DataFrame, merged: bool = False) -> DataFrame:
    """(doc_id, n_bpe_tokens, n_ws_tokens, n_types[, n_bpe_merged]):
    subword token budget (the 'BPE-ish regex' counter from the pipeline
    brief) next to the whitespace count and distinct-type count — bpe/ws
    ratio is the classic over-tokenization signal, types/tokens the
    repetition one. With ``merged`` (VERDICT r3 item 5) the REAL trained
    BPE count rides along: the committed merges table applied per
    pre-token in an Arrow-batched pandas UDF (functions/bpe.py) with an
    executor-singleton ranks dict and word cache — the regex columns
    stay pure codegen; only the merged column pays the Python stage."""
    toks = F.split(F.col("text"), " ")
    cols = [
        F.col("doc_id"),
        F.regexp_count("text", F.lit(BPE_PATTERN)).alias("n_bpe_tokens"),
        F.size(toks).alias("n_ws_tokens"),
        F.size(F.array_distinct(toks)).alias("n_types"),
    ]
    if merged:
        cols.append(bpe_merged_count_udf()(F.col("text")).alias("n_bpe_merged"))
    return docs.select(*cols)


def bpe_merged_count_udf():
    """Lazily-constructed pandas UDF (Column/UDF construction needs a live
    session — CLAUDE.md): series of text -> series of merged-BPE counts."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _count(texts):
        from granulate_char_ocr_spark.functions.bpe import (
            count_tokens,
            executor_ranks_and_cache,
        )

        ranks, cache = executor_ranks_and_cache()
        return texts.map(lambda t: count_tokens(t, ranks, cache))

    # real annotation objects, not strings: this module's `from __future__
    # import annotations` would stringify inline hints, which pandas_udf's
    # signature inference rejects
    _count.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    return pandas_udf(_count, "long")


def bpe_word_counts(docs: DataFrame, min_count: int = 1) -> DataFrame:
    """(word, n): corpus-wide pre-token frequencies — the distributed half
    of BPE tokenizer training, and the ONLY corpus-size-proportional step.
    One explode + one hash aggregate on the token key; the result is the
    Zipf-bounded vocabulary, not the corpus. ``min_count`` is the 100 TB
    safety valve: hapax pre-tokens (random blobs, typos) dominate the
    distinct-key count but can never win a merge against real vocabulary,
    so cutting them bounds the collect without changing early merges."""
    tok = F.explode(
        F.regexp_extract_all("text", F.lit("(" + BPE_PATTERN + ")"), 1)
    ).alias("word")
    out = (
        docs.select(tok)
        .where(~F.col("word").rlike(r"^[ \t\r\n]+$"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    if min_count > 1:
        out = out.where(F.col("n") >= min_count)
    return out


def train_bpe_spark(docs: DataFrame, n_merges: int | None = None,
                    min_count: int = 1) -> list:
    """Train a BPE merges table over a document corpus, Spark-distributed
    the way production tokenizer trainers are: the corpus pass is one
    word-count aggregate (:func:`bpe_word_counts`); the merge loop runs
    driver-side over the weighted vocabulary
    (functions/bpe.train_bpe_from_counts), which is vocabulary-sized, not
    corpus-sized. Deterministic (count ties break lexicographically), so
    the committed resources/bpe_merges.txt is reproducible from this path.

    Pre-tokenizer parity: the Spark side splits with the Java/RE2-safe
    BPE_PATTERN, the in-process twin (functions/bpe.pretokenize) with
    stdlib re — identical on ASCII and on all Unicode letters/digits;
    they class Nl/No characters (Ⅻ, ²) and exotic whitespace (\\x0b, NBSP)
    differently, which shifts only the affected words' counts. The
    equality pin in tests runs on ASCII corpora; mixed-script corpora get
    a determinism pin instead."""
    from collections import Counter

    from granulate_char_ocr_spark.functions import bpe as bpe_mod

    if n_merges is None:
        n_merges = bpe_mod.N_MERGES
    words = Counter()
    for row in bpe_word_counts(docs, min_count).toLocalIterator():
        words[tuple(bpe_mod._to_symbols(row["word"]))] += row["n"]
    return bpe_mod.train_bpe_from_counts(words, n_merges)


def winnow_fingerprints(docs: DataFrame, k: int = 5, w: int = 4) -> DataFrame:
    """(doc_id, fp): winnowed k-gram fingerprints (Schleimer/Wilkerson/Aiken
    'Winnowing: Local Algorithms for Document Fingerprinting', SIGMOD'03 —
    the rolling-hash fingerprint leg of the pipeline brief, and the MOSS
    near-dup primitive).

    Character k-grams over the case/whitespace-normalized text are hashed
    (first 8 md5 hex digits as int64 — engine-portable rolling-hash stand-in
    with identical selection properties), then each sliding window of ``w``
    consecutive gram hashes keeps its minimum; the distinct kept hashes are
    the document's fingerprints. Guarantees: any shared substring of length
    >= k + w - 1 produces at least one shared fingerprint. Docs shorter than
    that emit none (documented edge).

    r6 execution (guide §4.2): the former pure-expression plan md5-hashed
    every gram OCCURRENCE (~17M tiny-string md5 + hex-conv expressions at
    sf1.0) even though the char-gram vocabulary is tiny; the Arrow kernel
    memoizes gram→hash per task (each distinct gram is hashed once per
    task), takes window minima via one vectorized sliding-window view, and
    keeps the identical hash definition, so the output row set is
    unchanged — pinned against the expression twin
    (tests/reference_twins.py:_winnow_fingerprints_expr) by
    tests/test_textstats_repetition.py. Python-side
    normalization mirrors the Catalyst expressions exactly: strip(' ')
    (trim), ASCII \\s+ collapse (Java's default \\s class), then lower."""
    import re
    from hashlib import md5

    import numpy as np

    from granulate_char_ocr_spark.operators.doc_kernel import doc_kernel

    ws = re.compile(r"\s+", re.ASCII)

    def gram_hash(g: str) -> int:
        return int(md5(g.encode("utf-8")).hexdigest()[:8], 16)

    def per_doc(text, h):
        s = ws.sub(" ", text.strip(" ")).lower()
        m = len(s) - k + 1
        if m < w:  # fewer than w gram hashes -> no windows
            return ((),)
        hs = np.fromiter(
            (h[s[i : i + k]] for i in range(m)), dtype=np.int64, count=m
        )
        wins = np.lib.stride_tricks.sliding_window_view(hs, w).min(axis=1)
        return (np.unique(wins).tolist(),)

    return doc_kernel(docs, per_doc, "fp bigint", memo=gram_hash)


# The 8 required stopwords of the Gopher document filter (Rae et al. 2021,
# 'Scaling Language Models: ... Gopher', §A1.1): a document must contain at
# least 2 of these as whole tokens to pass.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_doc_cols() -> dict:
    """name -> Column of the five document-level Gopher quality signals
    over a ``text`` column (Rae et al. 2021 §A1.1) — curation.quality_filter
    fuses them into one projection:

    - 50 <= word count <= 100 000
    - 3 <= mean word length <= 10
    - symbol-to-word ratio ('#', '…', '...') <= 0.1
    - >= 80% of words contain an alphabetic character
    - >= 2 of the 8 required stopwords present"""
    toks = "filter(split(text, ' '), t -> length(t) > 0)"
    toks_l = "filter(split(lower(text), ' '), t -> length(t) > 0)"
    n_words = F.expr(f"size({toks})")
    mean_wl = F.round(
        F.expr(f"aggregate({toks}, 0L, (a, t) -> a + length(t))")
        / F.greatest(n_words, F.lit(1)),
        4,
    )
    n_symbols = (
        F.length("text")
        - F.length(F.regexp_replace("text", "#|…", ""))
        + F.expr(r"regexp_count(text, '\\.\\.\\.')")
    )
    symbol_ratio = F.round(n_symbols / F.greatest(n_words, F.lit(1)), 6)
    frac_alpha = F.round(
        F.expr(f"size(filter({toks}, t -> t rlike '[a-zA-Z]'))")
        / F.greatest(n_words, F.lit(1)),
        6,
    )
    stop_arr = ", ".join(f"'{s}'" for s in GOPHER_STOPWORDS)
    n_stop = F.expr(
        f"size(filter(array({stop_arr}), s -> array_contains({toks_l}, s)))"
    )
    return {
        "n_words": n_words,
        "mean_word_len": mean_wl,
        "symbol_ratio": symbol_ratio,
        "frac_alpha_words": frac_alpha,
        "n_req_stopwords": n_stop,
    }


def gopher_pass_col():
    """The document-level pass flag over gopher_doc_cols' OUTPUT columns —
    computed from the ROUNDED ratios so the flag is engine-portable at
    the thresholds."""
    return (
        F.col("n_words").between(50, 100000)
        & F.col("mean_word_len").between(3.0, 10.0)
        & (F.col("symbol_ratio") <= 0.1)
        & (F.col("frac_alpha_words") >= 0.8)
        & (F.col("n_req_stopwords") >= 2)
    )


def charlm_perplexity(docs: DataFrame, ref: DataFrame | None = None) -> DataFrame:
    """(doc_id, n_grams, perplexity): CCNet-style language-model quality
    scoring (Wenzek et al. 2020, 'CCNet: Extracting High Quality
    Monolingual Datasets from Web Crawl Data'). CCNet scores each document
    with a KenLM trained on Wikipedia and keeps the low-perplexity head;
    the engine-portable stand-in here is a character-trigram LM with
    add-one smoothing, trained on ``ref`` (default: the corpus itself) and
    evaluated on every document: perplexity = exp(-mean ln P(c3 | c1 c2))
    over the trigrams of the [a-z ]-normalized text. Documents with fewer
    than 3 normalized characters score NULL (n_grams = 0).

    Scale shape: the model is AT MOST 27^3 rows regardless of corpus size
    (one gram explosion + partial-aggregated count), so both model joins
    broadcast; scoring is one gram explosion with the per-doc re-aggregate
    collapsing map-side (exploded grams stay co-partitioned with their
    doc). Nothing shuffles at corpus width."""
    V = 27  # |a-z| + space: the add-one smoothing vocabulary

    def grams(df: DataFrame) -> DataFrame:
        norm = F.regexp_replace(F.lower(F.col("text")), "[^a-z ]", "")
        return df.withColumn("_norm", norm).select(
            "doc_id",
            F.explode(
                F.expr(
                    "case when length(_norm) >= 3 then "
                    "transform(sequence(1, length(_norm) - 2), "
                    "i -> substring(_norm, i, 3)) else array() end"
                )
            ).alias("tri"),
        )

    tri_counts = (
        grams(ref if ref is not None else docs)
        .groupBy("tri")
        .agg(F.count("*").alias("c3"))
    )
    ctx_counts = tri_counts.groupBy(
        F.substring("tri", 1, 2).alias("_ctx")
    ).agg(F.sum("c3").alias("c2"))
    scored = (
        grams(docs)
        .withColumn("_ctx", F.substring("tri", 1, 2))
        .join(F.broadcast(tri_counts), "tri", "left")
        .join(F.broadcast(ctx_counts), "_ctx", "left")
        .withColumn(
            "_lp",
            F.log(
                (F.coalesce("c3", F.lit(0)) + 1)
                / (F.coalesce("c2", F.lit(0)) + V)
            ),
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.round(F.exp(-F.avg("_lp")), 4).alias("perplexity"),
        )
    )
    return docs.select("doc_id").join(scored, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
        "perplexity",
    )
