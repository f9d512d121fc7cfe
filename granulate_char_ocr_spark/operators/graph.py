"""Link-graph analytics over extracted hyperlinks: edge extraction from
HTML pages and host-level PageRank.

Web-tier role (north rule): a crawl frontier needs host-level authority
scores to prioritize fetches and to weight quality signals; both derive
from the hyperlink graph that main-content extraction discards. This
module turns raw pages into a (src_host, dst_host) edge table with pure
codegen (regexp href extraction -> URL canonicalization -> host parse,
no UDF anywhere) and runs the classic damped power iteration over it as
plain DataFrame ops.

Reference parity: the reference repo (a char-OCR service) has no graph
ops; this leg comes from the web-tier brief, mirroring the role link
analysis plays in production crawl pipelines (Common Crawl's host-level
webgraph, Brin & Page 1998).

Scale posture:
* edge extraction is one scan + one explode + one hash aggregate — no
  joins, pushdown-friendly;
* each PageRank iteration is one equi-join of ranks against the static
  (edges x outdeg) table plus one hash aggregate on dst — the standard
  distributed formulation; co-partitioning ranks and edges on the host
  key makes the join shuffle-free on a real cluster (edges are hashed
  once, ranks arrive pre-hashed from the previous iteration's groupBy);
* dangling mass (rank parked on hosts with no out-links) is folded back
  uniformly each iteration via a global window sum over the rank table —
  the rank table is HOSTS, orders of magnitude smaller than documents,
  so the single-partition window exchange is bounded; at 10^8+ hosts
  you'd swap it for a per-iteration 1-row collect (an O(1) driver
  action), which the ``dangling_via_window`` flag documents;
* supersteps are materialized: the rank table is localCheckpoint-ed
  every iteration (the GraphX/GraphFrames pattern), so each iteration
  is one shallow plan over an in-memory 1-row-per-host table instead
  of an N-iterations-deep nested lazy plan — Catalyst analysis of the
  nested form is superlinear in depth and dominates wall time long
  before the (tiny) data does.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from granulate_char_ocr_spark.operators.urlfilter import (
    _RE_HOST,
    canonical_url_expr,
)

# href values of <a> tags, group 1 = the URL. Double-quoted attributes
# only (the deterministic page synth and WARC-extracted markup both
# quote); single-quote support would be a second alternation, excluded
# to keep the Java/RE2 parity surface minimal. Case-insensitive so
# <A HREF=...> markup feeds the edge table like lower-case markup.
_RE_HREF = r'(?i)<a\s[^>]*href="([^"]+)"'


def extract_hrefs(html: Column) -> Column:
    """array<string> of raw href attribute values in document order."""
    return F.regexp_extract_all(html, F.lit(_RE_HREF), F.lit(1))


def host_of(url: Column) -> Column:
    """Authority host of an absolute URL ('' for relative/opaque refs)."""
    return F.regexp_extract(url, _RE_HOST, 1)


def link_edges(
    pages: DataFrame,
    src_host_col: str = "src_host",
    html_col: str = "html",
) -> DataFrame:
    """(src_host, dst_host, n_links) host-level edge table from raw HTML.

    Hrefs are extracted with one codegen regexp pass, canonicalized
    (scheme/host case, default ports, fragments, tracking params — the
    same ``canonical_url_expr`` the URL-dedup path uses), reduced to
    their host, and aggregated. Relative links (no authority) and
    self-loops are dropped — frontier prioritization wants cross-host
    endorsement, and self-links would let a site vote for itself.

    One scan -> explode -> hash aggregate; zero joins, zero UDFs.
    """
    href = F.explode(extract_hrefs(F.col(html_col))).alias("_href")
    dst = host_of(canonical_url_expr(F.col("_href")))
    return (
        pages.select(F.col(src_host_col).alias("src_host"), href)
        .select("src_host", dst.alias("dst_host"))
        .filter((F.col("dst_host") != "") & (F.col("dst_host") != F.col("src_host")))
        .groupBy("src_host", "dst_host")
        .agg(F.count("*").alias("n_links"))
    )


def pagerank(
    edges: DataFrame,
    iterations: int = 8,
    damping: float = 0.85,
    src: str = "src_host",
    dst: str = "dst_host",
) -> DataFrame:
    """Damped PageRank over a directed edge table -> (host, rank).

    The textbook formulation with uniform dangling-mass redistribution:

        r'(v) = (1-d)/N + d * (sum_{u->v} r(u)/outdeg(u) + D/N)

    where D is the total rank parked on dangling nodes (in-links only).
    Ranks therefore sum to exactly 1 every iteration — pinned by tests.

    Pregel-shaped: the graph is compiled ONCE into a static per-node
    target list (its out-neighbors, each tagged with the node's outdeg,
    plus a zero-weight self row that keeps zero-in-link nodes alive
    through the aggregate). Each iteration then touches the rank table
    exactly once — join against the static adjacency, one bounded
    global window for the dangling scalar, explode the target lists,
    hash-aggregate on target. The single rank reference keeps the lazy
    plan LINEAR in iteration count (a naive two-reference formulation
    doubles the logical plan every iteration — exponential Catalyst
    analysis). On a real cluster ranks arrive at each iteration
    pre-hashed on the node key from the previous groupBy, so the
    adjacency join is shuffle-free once adjacency is hashed the same
    way. N is materialized once with a count() — a single bounded
    action over the host table, not the corpus. Both the static
    adjacency and each iteration's rank table are localCheckpoint-ed
    (bounded: one row per host) so every superstep compiles and runs
    as its own shallow job.
    """
    # r6: e is referenced three times below (both node legs + adjacency);
    # without a barrier each reference re-runs the upstream edge build +
    # distinct exchange. One eager checkpoint of the (bounded, host-level)
    # distinct edge table computes it once.
    e = (
        edges.select(F.col(src).alias("_es"), F.col(dst).alias("_ed"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("_es").alias("_node"))
        .unionAll(e.select(F.col("_ed").alias("_node")))
        .distinct()
    )
    adj = e.groupBy(F.col("_es").alias("_node")).agg(
        F.collect_list("_ed").alias("_out")
    )
    # static per-node targets: a zero-weight self row (keeps the node in
    # every iteration's aggregate) ++ one row per out-edge tagged with
    # outdeg — the weight the contribution divides by, kept as outdeg
    # (not 1/outdeg) so the engine-side division is bitwise the same
    # rank/outdeg the SQL oracle computes.
    self_row = F.array(
        F.struct(F.col("_node").alias("_tgt"), F.lit(0.0).alias("_w"))
    )
    out_rows = F.transform(
        F.col("_out"),
        lambda t: F.struct(
            t.alias("_tgt"), F.size("_out").cast("double").alias("_w")
        ),
    )
    node_adj = nodes.join(adj, "_node", "left").select(
        "_node",
        # concat(x, NULL) is NULL -> dangling nodes fall back to just
        # their self row
        F.coalesce(F.concat(self_row, out_rows), self_row).alias("_tgts"),
        F.col("_out").isNull().alias("_dangling"),
    )
    node_adj = node_adj.localCheckpoint(eager=True)  # one row per host
    n = node_adj.count()  # bounded action: hosts, not documents
    # r6 (guide §2.4 "remove shuffles outright"): size the rank/adjacency
    # partitioning from the HOST count, not the session default. At host
    # counts below ~20k/partition this collapses to ONE hash partition,
    # which satisfies every downstream distribution requirement (the
    # rank join's clustering, the dangling window's AllTuples, the
    # target aggregate's clustering), so each superstep runs as a single
    # exchange-free stage instead of 3 stages with 2 exchanges — 8x
    # fewer shuffles over the iteration loop. Larger graphs keep more
    # partitions and degrade to the previous plan shape.
    sc = edges.sparkSession.sparkContext
    p = max(1, min(sc.defaultParallelism, -(-n // 20000)))
    if p < node_adj.rdd.getNumPartitions():
        node_adj = node_adj.repartition(p, "_node").localCheckpoint(
            eager=True
        )
    ranks = node_adj.select("_node", F.lit(1.0 / n).alias("_rank"))
    everything = Window.partitionBy()  # dangling_via_window (see module doc)
    dangling_mass = F.sum(
        F.when(F.col("_dangling"), F.col("_rank")).otherwise(0.0)
    ).over(everything)
    for _ in range(iterations):
        frame = (
            ranks.join(node_adj, "_node")
            .withColumn("_dang", dangling_mass)
            .select("_rank", "_dang", F.explode("_tgts").alias("_t"))
        )
        ranks = frame.groupBy(F.col("_t._tgt").alias("_node")).agg(
            (
                F.lit((1.0 - damping) / n)
                + damping
                * (
                    F.sum(
                        F.when(
                            F.col("_t._w") > 0.0,
                            F.col("_rank") / F.col("_t._w"),
                        ).otherwise(0.0)
                    )
                    + F.first("_dang") / n
                )
            ).alias("_rank")
        ).localCheckpoint(eager=True)
    return ranks.select(F.col("_node").alias("host"), F.col("_rank").alias("rank"))
