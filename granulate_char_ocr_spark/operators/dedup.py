"""Deduplication operators over a document corpus — the training-data-pipeline
surface (exact, MinHash+LSH, SimHash, n-gram Jaccard).

Hashing is `md5`, which is bit-identical across engines, so every operator
has an exact DuckDB oracle. The reference formulations are pure DataFrame
compositions; the hot paths run Python kernels (per-document text kernels on
operators/doc_kernel.py, plus the n-gram and embedding pair kernels), each
pinned to its reference by a parity test (SimHash, which has no DataFrame
twin, to its DuckDB oracle).

Scale notes:
* exact dedup — one hash-aggregate shuffle on the fingerprint; at 100 TB this
  is the cheapest possible formulation (map-side partial agg, AQE coalesce).
* MinHash+LSH — signatures are per-seed minima computed in-row per
  document (no shuffle), candidates come from an equi-join on
  (band, band_hash): only docs sharing a band bucket ever meet, which is the
  whole point of LSH at 10^12 docs — no quadratic pair enumeration.
* n-gram Jaccard — an inverted shingle index; skewy shingles (stop-shingles)
  are the classic hazard: ``max_shingle_df`` drops shingles seen in more
  than N docs before pairing (standard df-cut), bounding the fan-out.
* SimHash — per-document ±1 votes over token hashes, computed in-row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from granulate_char_ocr_spark.operators.skew import (
    core_partitions,
    widen_narrow_scan,
)


def TOKENS():
    # built lazily: Column construction needs an active SparkContext
    return F.split(F.col("text"), " ")


def exact_dedup(docs: DataFrame) -> DataFrame:
    """(fingerprint, keep_id, n_dups): md5-grouped exact duplicate clusters;
    the kept representative is the smallest doc_id (deterministic)."""
    return (
        docs.select(F.md5("text").alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count("*").alias("n_dups"),
        )
    )


def _gram_windows_expr(n: int, distinct: bool) -> str:
    """The one gram-builder shingles() and the vocabulary sketch share,
    so the gram space can never silently diverge between them: n-token
    windows over ``_toks``, optionally in-row-distinct; docs shorter than
    n yield array()."""
    inner = f"concat_ws(' ', slice(_toks, i + 1, {n}))"
    body = f"transform(sequence(0, size(_toks) - {n}), i -> {inner})"
    if distinct:
        body = f"array_distinct({body})"
    return f"case when size(_toks) >= {n} then {body} else array() end"


def shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shingle): distinct n-word shingles per document. The
    distinct happens IN-ROW (array_distinct before the explode), not as a
    post-explode ``.distinct()`` — same rows for unique doc_ids, zero
    shuffle. Docs shorter than n tokens contribute no rows."""
    expr = _gram_windows_expr(n, distinct=True)
    return (
        widen_narrow_scan(docs)
        .withColumn("_toks", TOKENS())
        .select("doc_id", F.explode(F.expr(expr)).alias("shingle"))
    )


def _shingles_kernel(docs: DataFrame, n: int = 3) -> DataFrame:
    """Arrow-kernel formulation of :func:`shingles` — identical row set
    (per-doc in-row-distinct n-token windows, first-occurrence order),
    with the window build and dedup done in Python per document instead
    of per-token Catalyst transform/slice/concat_ws/array_distinct
    expressions (guide §4.2). Used by the gram-heavy consumers whose
    cost is dominated by the window build; :func:`shingles` stays the
    expression-shaped reference (and the oracle-shaped build). Pinned
    equal by tests/test_dedup_ops.py."""
    from granulate_char_ocr_spark.operators.doc_kernel import doc_kernel

    def per_doc(text, h):
        toks = text.split(" ")
        return (
            dict.fromkeys(
                " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
            ),
        )

    return doc_kernel(docs, per_doc, "shingle string")


def minhash_signatures(docs: DataFrame, k: int = 8, n: int = 3) -> DataFrame:
    """(doc_id, mh_0..mh_{k-1}): MinHash signature as the lexicographic min of
    seeded md5 over the doc's shingle set — engine-portable by construction.

    r6 execution (guide §4.2): the former pure-expression plan exploded
    every distinct shingle (~2.6M rows at sf1.0) and evaluated k seeded
    md5+concat expressions per row before re-aggregating on doc_id — a
    full exchange plus ~21M tiny-string hashes for a k-value-per-doc
    result. The Arrow kernel computes each document's signature in-row
    (tokenize → n-gram windows → in-row distinct → per-seed min), with
    shingle→k-hashes memoized per task (the shingle vocabulary is tiny
    next to its occurrence stream), so the signature stage now has ZERO
    shuffle and each distinct shingle is hashed once per task. Hash
    definition unchanged (md5 hex of f"{seed}:{shingle}", lexicographic
    min), so signatures are identical to the expression twin
    (tests/reference_twins.py:_minhash_signatures_expr) — pinned by
    tests/test_dedup_ops.py.
    Tokenization mirrors Catalyst split(text, ' ') exactly (Java split
    limit -1 == str.split(' '): empty tokens kept everywhere)."""
    from hashlib import md5

    from granulate_char_ocr_spark.operators.doc_kernel import doc_kernel

    seeds = [f"{s}:" for s in range(k)]
    no_row = ((),) * k  # expression twin: no shingles -> no row

    def hashes(g: str):
        return tuple(md5((p + g).encode("utf-8")).hexdigest() for p in seeds)

    def per_doc(text, h):
        toks = text.split(" ")
        grams = {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}
        if not grams:
            return no_row
        return [[min(col)] for col in zip(*(h[g] for g in grams))]

    schema = ", ".join(f"mh_{s} string" for s in range(k))
    return doc_kernel(docs, per_doc, schema, memo=hashes)


def lsh_candidate_pairs(
    docs: DataFrame, k: int = 8, bands: int = 4, n: int = 3
) -> DataFrame:
    """(doc_a, doc_b): unordered candidate near-dup pairs sharing at least one
    LSH band (k/bands rows per band, hashed together)."""
    rows = k // bands
    # NOTE (r6): MapInPandas subtrees defeat exchange-reuse
    # canonicalization, so the self-join below runs the signature kernel
    # once per side. An eager checkpoint was A/B'd to compute it once —
    # and LOST (1.9 s vs 1.3 s at sf1.0): the in-row kernel is cheap
    # enough that two spread runs beat a materialization job + barrier.
    sig = minhash_signatures(docs, k, n)
    band_cols = []
    for b in range(bands):
        cols = [F.col(f"mh_{b * rows + r}") for r in range(rows)]
        band_cols.append(
            F.struct(F.lit(b).alias("band"), F.md5(F.concat(*cols)).alias("bh"))
        )
    banded = sig.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("b")
    ).select("doc_id", "b.band", "b.bh")
    left = banded.alias("l")
    right = banded.alias("r")
    # shuffle_hash (not broadcast): both sides then plan the IDENTICAL
    # exchange over the same banded-signature subtree and ReusedExchange
    # computes the signature kernel once — a broadcast build would run
    # the whole upstream MapInPandas a second time for the build side
    # (the d961793 simhash fix, same shape).
    return (
        left.join(
            right.hint("shuffle_hash"),
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bh") == F.col("r.bh"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b")
        )
        .distinct()
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int = 100,
) -> DataFrame:
    """(doc_a, doc_b, jaccard): exact n-gram Jaccard over the shingle
    inverted index; shingles appearing in > max_shingle_df docs are cut
    (standard df skew bound). jaccard rounded to 6 decimals.

    SEMANTICS identical to the r1-r5 inverted-index self-join (the twin
    ``_ngram_jaccard_pairs_joined`` in tests/reference_twins.py, pinned
    equal by tests/test_dedup_ops.py). EXECUTION (r6, guide §2.3 "shuffle
    keys and metadata instead of payloads" + §4.2): after the df cut the
    whole inverted index is only ``kept_shingles x max_shingle_df`` doc
    ids (~10 MB at sf1.0), while the self-join it used to feed produced
    sum C(df,2) ~ 67M candidate pair rows through a join + 1.4 GB
    hash-agg exchange — the df-cut survivors cluster just under the cut,
    so nearly every candidate pair is join fan-out. The r6 plan
    replicates the packed index to P slice tasks, one per core, via a
    single-row broadcast equi-join (executor-side; no driver collect) and
    a NumPy kernel enumerates only the pair slice with doc_a %% P == pid,
    bincounts packed (a, b) keys, derives both set sizes from the same
    index, and emits only survivors — the candidate pair stream never
    touches a shuffle. Rounding: fast float emulation as a prefilter
    with a one-grid-step margin, exact Decimal HALF_UP (Spark's
    BigDecimal round) on survivors.

    Scale shape: the replicated index is O(kept_shingles x df_cut) — at
    real corpus scale shard the shingle space (hash ranges) and run the
    kernel per shard; each shard's pair slice is disjoint because a
    pair is counted under every shared shingle independently."""
    import numpy as np
    import pandas as pd

    spark = docs.sparkSession
    # one slice per core: the index payload ships once per slice, so
    # transfer grows linearly in P while the vectorized kernel splits fine
    # at one slice per core (4 cores, sf0.1, min of 5: 0.93/1.32 s at P=4
    # vs 1.17/1.81 s at 16)
    P = core_partitions(spark)
    sh = _shingles_kernel(docs, n)
    by = (
        sh.groupBy("shingle")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
        .filter(F.size("ds") <= max_shingle_df)
        .select("ds")
    )
    # single-row index replicated to every slice via a hash equi-join whose
    # key is DERIVED FROM COLUMNS (always 0, but not foldable): a literal
    # key would be constant-folded and the join planned as a nested-loop
    # cross (the forbidden operator) instead of a 1-build-row hash join.
    # Packed FLAT (one concatenated posting array + per-list lengths, r6):
    # the JVM->Arrow conversion of a 30k-way nested list per slice row was
    # the stage's dominant cost; a flat list has one offsets array.
    idx = (
        by.agg(F.collect_list("ds").alias("nested"))
        .select(
            F.flatten("nested").alias("flat"),
            F.expr("transform(nested, x -> size(x))").alias("lens"),
        )
        .withColumn("k", F.least(F.size("flat"), F.lit(0)))
    )
    parts = (
        spark.range(0, P, 1, P)
        .select(F.col("id").cast("int").alias("pid"))
        .withColumn("k", F.least(F.col("pid"), F.lit(0)))
    )
    joined = parts.join(F.broadcast(idx), "k").select("pid", "flat", "lens")
    thr = float(threshold)

    def kernel(batches):
        from decimal import ROUND_HALF_UP, Decimal

        q6 = Decimal(1).scaleb(-6)
        for pdf in batches:
            out_a, out_b, out_j = [], [], []
            for pid, flat, lens in zip(pdf["pid"], pdf["flat"], pdf["lens"]):
                flat = np.asarray(flat, dtype=np.int64)
                lens = np.asarray(lens, dtype=np.int64)
                if not len(flat):
                    continue
                ids, cnts = np.unique(flat, return_counts=True)
                mx = int(ids[-1]) + 1
                if ids[0] < 0 or mx >= (1 << 31):
                    raise ValueError(
                        "packed pair keys need doc_id in [0, 2^31)"
                    )
                # vectorized ragged pair enumeration (replaces the former
                # per-list Python loop): every index position whose doc is
                # in this slice pairs with the rest of its (sorted) list —
                # tails expanded with repeat + exclusive-cumsum arithmetic
                ends = np.cumsum(lens)  # list end offset per flat position
                pos_end = np.repeat(ends, lens)
                sel = np.nonzero(flat % P == pid)[0]
                tails = pos_end[sel] - sel - 1  # partners after position
                sel = sel[tails > 0]
                tails = tails[tails > 0]
                if not len(sel):
                    continue
                cum = np.concatenate(([0], np.cumsum(tails[:-1])))
                partner = (
                    np.repeat(sel + 1 - cum, tails)
                    + np.arange(tails.sum(), dtype=np.int64)
                )
                keys = np.repeat(flat[sel] * mx, tails) + flat[partner]
                pk, inter = np.unique(keys, return_counts=True)
                a, b = pk // mx, pk % mx
                na = cnts[np.searchsorted(ids, a)]
                nb = cnts[np.searchsorted(ids, b)]
                sim = inter / (na + nb - inter)
                fast = np.floor(sim * 1e6 + 0.5) / 1e6
                m = fast >= thr - 1.5e-6
                for ai, bi, sv in zip(a[m], b[m], sim[m]):
                    # exact Spark round(double, 6): shortest-repr Decimal
                    j = float(
                        Decimal(repr(float(sv))).quantize(
                            q6, rounding=ROUND_HALF_UP
                        )
                    )
                    if j >= thr:
                        out_a.append(int(ai))
                        out_b.append(int(bi))
                        out_j.append(j)
            yield pd.DataFrame(
                {
                    "doc_a": pd.Series(out_a, dtype="int64"),
                    "doc_b": pd.Series(out_b, dtype="int64"),
                    "jaccard": pd.Series(out_j, dtype="float64"),
                }
            )

    return joined.mapInPandas(
        kernel, schema="doc_a bigint, doc_b bigint, jaccard double"
    )


def embedding_near_pairs(
    embeddings: DataFrame,
    threshold: float = 0.4,
    sign_dims: int = 4,
    probe_rings: int = 1,
) -> DataFrame:
    """(vec_a, vec_b, sim): embedding-cosine near-duplicate pairs — the
    semantic-dedup leg.

    SEMANTICS (frozen by the DuckDB oracle, identical to r5): a pair is
    emitted iff its IVF sign-cells (sign pattern of the first
    ``sign_dims`` components — the similarity.ivf_topk quantizer) differ
    in at most ``probe_rings`` signs AND round(cosine, 5) >= threshold,
    where cosine is the float64 sequential-sum dot product over the
    float32 components divided by the two sequential-sum norms — the
    exact arithmetic of the Catalyst HOF expression
    (similarity.COSINE_EXPR). Recall ladder vs the exact all-pairs
    answer (sf0.01, 500x64, threshold 0.4; tests/test_ann_recall.py):
    rings=1 0.559, rings=2 0.915 (the gate operating point), rings=3
    1.000.

    EXECUTION (the r6 optimization — guide §4.2, "hand whole batches to
    vectorized native libraries"): at sign_dims=4 / rings=2 the cell
    constraint keeps 11/16 of ALL pairs, so candidate verification is
    effectively an all-pairs cosine — r5 evaluated it with the per-pair
    interpreted HOF inside the probe equi-join (242 s at sf1.0, 2.4 s/M
    pairs). This formulation computes the same values at NumPy rate:
    vectors are grouped round-robin (vec_id % nb) into nb blocks, the
    tiny (bl, br) block-pair relation (bl <= br) broadcast-joins each
    side's vector arrays, and a mapInPandas kernel evaluates each block
    pair as tiled rank-1-update accumulation in float64 — the SAME
    per-element operation order as the HOF (acc_d = acc_{d-1} + x_d*y_d),
    so sims are bit-identical, pinned against the HOF twin
    (tests/reference_twins.py:_embedding_near_pairs_hof) by
    tests/test_dedup_ops.py. Rounding uses the fast float emulation as a
    prefilter with a one-grid-step margin, then exact
    Decimal(shortest-repr) HALF_UP — Spark's BigDecimal.valueOf round —
    on the few survivors.

    Scale shape: nb is one block per core and the block-pair relation
    has nb(nb+1)/2 rows; each task is one block pair (work N^2 d / nb^2,
    accumulator tiled to ~4 MB).
    The pair relation is sliced one pair a task and never shuffles (the
    fat vector arrays ride one broadcast per side); past broadcastable
    corpus size, shard by IVF cell first
    and run the kernel per shard — the quadratic candidate set is
    inherent to the pinned 4-bit quantizer, not to this execution.
    """
    import numpy as np
    import pandas as pd

    spark = embeddings.sparkSession
    # one block per core: each vector ships in nb + 1 block pairs, so
    # transfer grows linearly in nb (4 cores, sf0.1, min of 5: 1.1-1.3 s at
    # nb=4 vs 2.2-2.3 s at 16; 32 cores, sf1.0: nb=32 4.0 s vs 5.7/4.6/5.0 s
    # at 16/48/64)
    nb = core_partitions(spark)
    blocks = (
        embeddings.select("vec_id", "embedding")
        .withColumn("b", F.pmod(F.col("vec_id"), F.lit(nb)).cast("int"))
        .groupBy("b")
        .agg(
            F.sort_array(F.collect_list(F.struct("vec_id", "embedding"))).alias("v")
        )
        .select("b", F.col("v.vec_id").alias("ids"), F.col("v.embedding").alias("embs"))
    )
    # one task per block pair: a hash exchange left some partitions with
    # two pairs and most empty, so slice the local list one pair a slice
    pair_list = [(bl, br) for bl in range(nb) for br in range(bl, nb)]
    pairs = spark.createDataFrame(
        spark.sparkContext.parallelize(pair_list, len(pair_list)),
        "bl int, br int",
    )
    joined = pairs.join(
        F.broadcast(
            blocks.select(
                F.col("b").alias("bl"),
                F.col("ids").alias("lids"),
                F.col("embs").alias("lembs"),
            )
        ),
        "bl",
    ).join(
        F.broadcast(
            blocks.select(
                F.col("b").alias("br"),
                F.col("ids").alias("rids"),
                F.col("embs").alias("rembs"),
            )
        ),
        "br",
    )
    thr, sd, rings = float(threshold), sign_dims, probe_rings

    def kernel(batches):
        from decimal import ROUND_HALF_UP, Decimal

        quantum = Decimal(1).scaleb(-5)
        pop = np.array([bin(i).count("1") for i in range(1 << sd)])
        weights = (1 << np.arange(sd)).astype(np.int64)

        def exact_round5(v: float) -> float:
            # Spark's round(double, 5): BigDecimal.valueOf == shortest
            # decimal repr, then HALF_UP — repr() is the same shortest repr
            return float(Decimal(repr(v)).quantize(quantum, rounding=ROUND_HALF_UP))

        for pdf in batches:
            out_a, out_b, out_s = [], [], []
            same_block = pdf["bl"].to_numpy() == pdf["br"].to_numpy()
            for lids, lembs, rids, rembs, same in zip(
                pdf["lids"], pdf["lembs"], pdf["rids"], pdf["rembs"], same_block
            ):
                la = np.asarray(lids, dtype=np.int64)
                ra = np.asarray(rids, dtype=np.int64)
                A32, B32 = np.stack(lembs), np.stack(rembs)
                A, Bm = A32.astype(np.float64), B32.astype(np.float64)
                ca = (A32[:, :sd] >= 0).astype(np.int64) @ weights
                cb = (B32[:, :sd] >= 0).astype(np.int64) @ weights
                ham_ok = pop[ca[:, None] ^ cb[None, :]] <= rings
                na = np.zeros(len(A))
                for d in range(A.shape[1]):  # sequential-sum norm (HOF order)
                    na += A[:, d] * A[:, d]
                na = np.sqrt(na)
                nrm_b = np.zeros(len(Bm))
                for d in range(Bm.shape[1]):
                    nrm_b += Bm[:, d] * Bm[:, d]
                nrm_b = np.sqrt(nrm_b)
                for ls in range(0, len(A), 1024):
                    At, lat = A[ls : ls + 1024], la[ls : ls + 1024]
                    for rs in range(0, len(Bm), 4096):
                        Bt = Bm[rs : rs + 4096]
                        # BLAS gemm as the PREFILTER: its pairwise-summed
                        # dot differs from the HOF's sequential sum by
                        # <= ~d*eps (~1e-14 for d=64, unit-norm data) —
                        # orders of magnitude inside the 1.5e-5 prefilter
                        # margin, so no true pair can be lost. Every
                        # SURVIVOR is then re-evaluated below with the
                        # exact sequential-sum order, so emitted values
                        # are bit-identical to the HOF twin.
                        acc = At @ Bt.T
                        with np.errstate(divide="ignore", invalid="ignore"):
                            sim = acc / (
                                na[ls : ls + 1024, None] * nrm_b[None, rs : rs + 4096]
                            )
                        fast = np.sign(sim) * np.floor(np.abs(sim) * 1e5 + 0.5) / 1e5
                        mask = ham_ok[ls : ls + 1024, rs : rs + 4096] & (
                            fast >= thr - 1.5e-5
                        )
                        if same:
                            mask &= lat[:, None] < ra[None, rs : rs + 4096]
                        ii, jj = np.nonzero(mask)
                        if not len(ii):
                            continue
                        # exact sequential-sum dot over the survivors only
                        # (vectorized across pairs, HOF order across dims)
                        Ax, Bx = At[ii], Bt[jj]
                        dot = np.zeros(len(ii))
                        for d in range(Ax.shape[1]):
                            dot += Ax[:, d] * Bx[:, d]
                        with np.errstate(divide="ignore", invalid="ignore"):
                            seq = dot / (na[ls + ii] * nrm_b[rs + jj])
                        for i, j, v in zip(ii, jj, seq):
                            sv = exact_round5(float(v))
                            if sv >= thr:
                                ai, bj = int(lat[i]), int(ra[rs + j])
                                if ai > bj:
                                    ai, bj = bj, ai
                                out_a.append(ai)
                                out_b.append(bj)
                                out_s.append(sv)
            yield pd.DataFrame(
                {
                    "vec_a": pd.Series(out_a, dtype="int64"),
                    "vec_b": pd.Series(out_b, dtype="int64"),
                    "sim": pd.Series(out_s, dtype="float64"),
                }
            )

    return joined.mapInPandas(
        kernel, schema="vec_a bigint, vec_b bigint, sim double"
    )


def connected_components(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 25,
) -> DataFrame:
    """(node, component): connected components of the near-dup pair graph —
    the leg that turns pairwise candidates into dedup CLUSTERS so a keeper
    can be chosen per cluster (component id = min node id, so the keeper is
    ``node == component``).

    Iterative min-label propagation (the standard distributed CC: each node
    repeatedly takes the minimum label in its closed neighborhood until a
    fixpoint — what GraphX/GraphFrames run underneath). Every iteration is
    one join + one aggregate, fully distributed; the driver loop only
    orchestrates and checks convergence (a count, not data). localCheckpoint
    every iteration cuts the lineage so the plan does not grow with the
    iteration count. Iterations needed = graph diameter; near-dup clusters
    are star-like (tiny diameter). Raises if ``max_iter`` is hit without
    convergence rather than returning wrong labels.
    """
    edges = (
        pairs.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .union(pairs.select(F.col(dst).alias("s"), F.col(src).alias("d")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("s").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.d == labels.node)
            .groupBy(F.col("s").alias("node"))
            .agg(F.min("component").alias("_nbr_min"))
        )
        # inner join: the symmetrized edge set guarantees every labeled node
        # has at least one neighbor, so no left-join/null handling exists
        updated = (
            labels.join(neighbor_min, "node")
            .select(
                "node",
                F.least(F.col("component"), F.col("_nbr_min")).alias("component"),
                (F.col("_nbr_min") < F.col("component")).alias("_changed"),
            )
            .localCheckpoint(eager=True)
        )
        changed = updated.filter(F.col("_changed")).count()
        prev, labels = labels, updated.drop("_changed")
        prev.unpersist()  # release the superseded checkpoint's storage
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} iterations"
    )


def hamming_near_pairs(
    hashed: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "simhash",
    bits: int = 16,
    max_hd: int = 2,
) -> DataFrame:
    """(id_a, id_b, hd): pairs of bigint hashes within Hamming distance
    ``max_hd``, EXACT — the pigeonhole band trick over any 64-bit-or-
    narrower hash column (SimHash here; perceptual image hashes in
    operators/multimodal.py).

    Split the ``bits`` into ``max_hd + 1`` contiguous chunks; two
    hashes within HD <= max_hd must agree EXACTLY on at least one chunk
    (at most max_hd chunks can contain a differing bit), so candidates
    come from an equi-join on (chunk_id, chunk_value) — the same plan
    shape as MinHash LSH banding, no cross join anywhere. Candidates
    are then exact-verified with bit_count, which makes the result
    IDENTICAL to the brute-force formulation (100% recall by
    pigeonhole, 0 false positives by verification). The shiftright is
    arithmetic, but the chunk mask keeps only the low ``width`` bits,
    so sign extension from a set bit 63 cannot leak into chunk values.

    r6 execution notes (guide §2.4 "remove shuffles outright"): a pair
    agreeing on several chunks used to be deduped by a ``.distinct()``
    over the full pair stream (a 2.2M-row exchange + aggregate at
    sf1.0); instead each pair is now emitted exactly once, under its
    FIRST agreeing chunk (join keeps only matches where every earlier
    chunk differs — the same unique-probe rule as the embedding
    multi-probe join). And the self-join is hinted shuffle_hash rather
    than letting the small side broadcast: both sides then plan the
    identical exchange and ReusedExchange computes the upstream hash
    aggregation ONCE instead of twice.
    """
    n_chunks = max_hd + 1
    base, rem = divmod(bits, n_chunks)
    chunk_vals, offset = [], 0
    for i in range(n_chunks):
        width = base + (1 if i < rem else 0)
        # a full-width (64-bit) chunk takes the hash verbatim: its mask
        # (1<<64)-1 would overflow signed bigint and parse as DECIMAL
        chunk_vals.append(
            f"shiftright({hash_col}, {offset})"
            if width >= 64
            else f"(shiftright({hash_col}, {offset}) & {(1 << width) - 1})"
        )
        offset += width
    chunk_cols = [
        F.struct(F.lit(i).alias("chunk_id"), F.expr(v).alias("chunk_val"))
        for i, v in enumerate(chunk_vals)
    ]
    banded = hashed.select(
        id_col,
        hash_col,
        *[F.expr(v).alias(f"_ch{i}") for i, v in enumerate(chunk_vals)],
        F.explode(F.array(*chunk_cols)).alias("c"),
    ).select(
        id_col,
        hash_col,
        *[f"_ch{i}" for i in range(n_chunks)],
        "c.chunk_id",
        "c.chunk_val",
    )
    l, r = banded.alias("l"), banded.alias("r")
    # emit each pair once: under its first agreeing chunk (all earlier
    # chunks must differ), replacing the post-join distinct
    first_agree = F.lit(True)
    for i in range(1, n_chunks):
        differs = F.lit(True)
        for j in range(i):
            differs = differs & (F.col(f"l._ch{j}") != F.col(f"r._ch{j}"))
        first_agree = F.when(F.col("l.chunk_id") == i, differs).otherwise(
            first_agree
        )
    return (
        l.join(
            r.hint("shuffle_hash"),
            (F.col("l.chunk_id") == F.col("r.chunk_id"))
            & (F.col("l.chunk_val") == F.col("r.chunk_val"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
            & first_agree,
        )
        .withColumn(
            "hd",
            F.expr(f"bit_count(l.{hash_col} ^ r.{hash_col})").cast("int"),
        )
        .filter(F.col("hd") <= max_hd)
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            "hd",
        )
    )


def simhash(docs: DataFrame, bits: int = 16) -> DataFrame:
    """(doc_id, simhash): ``bits``-wide SimHash over whitespace tokens.

    Token hash = first ceil(bits/4) md5 hex digits as int (width derived
    from ``bits`` — a fixed 4-digit slice would leave every bit past 16
    voting uniformly, ADVICE r1); each token OCCURRENCE, empty tokens
    included, votes ±1 per bit, and a bit is set when the signed sum is
    strictly positive (deterministic ties; integer arithmetic, so
    order-free). Null text yields no row. Each doc's signature is computed
    in-row from its token Counter with token→hash memoized per task
    (guide §4.2). Pinned to DuckDB's ``driver_queries._simhash_sql`` at 16
    and 32 bits by tests/test_dedup_ops.py."""
    from collections import Counter
    from hashlib import md5

    import numpy as np

    from granulate_char_ocr_spark.operators.doc_kernel import doc_kernel

    if not 1 <= bits <= 60:
        raise ValueError(f"bits must be in [1, 60], got {bits}")
    hex_digits = (bits + 3) // 4
    shifts = np.arange(bits, dtype=np.int64)
    pows = (np.int64(1) << shifts).astype(np.int64)

    def token_hash(tok: str) -> int:
        return int(md5(tok.encode("utf-8")).hexdigest()[:hex_digits], 16)

    def per_doc(text, h):
        c = Counter(text.split(" "))
        ths = np.fromiter((h[t] for t in c), dtype=np.int64, count=len(c))
        cnts = np.fromiter(c.values(), dtype=np.int64, count=len(c))
        votes = (
            cnts[:, None] * (2 * ((ths[:, None] >> shifts) & 1) - 1)
        ).sum(axis=0)
        return ([int(pows[votes > 0].sum())],)

    return doc_kernel(docs, per_doc, "simhash bigint", memo=token_hash)


def simhash_near_pairs(docs: DataFrame, bits: int = 16, max_hd: int = 2) -> DataFrame:
    """(doc_a, doc_b, hd): SimHash pairs within Hamming distance
    ``max_hd`` — exact via the pigeonhole equi-join
    (``hamming_near_pairs``); the DuckDB oracle stays the brute-force
    quadratic, uncapped. Signatures come from :func:`simhash`; the pigeonhole
    self-join runs it once per side (MapInPandas defeats exchange-reuse
    canonicalization) — a checkpoint barrier was A/B'd and lost, the
    spread kernel being cheaper than a materialization job."""
    return hamming_near_pairs(
        simhash(docs, bits), "doc_id", "simhash", bits, max_hd
    ).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"), "hd"
    )
