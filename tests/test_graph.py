"""Link-graph operators: href edge extraction and host-level PageRank.

Web-tier leg (no reference analog — the reference repo, a char-OCR
service, has no graph ops; see operators/graph.py module doc). The
PageRank checks pin the operator against an independent NumPy power
iteration of the same textbook formulation.
"""

import numpy as np
import pytest

from granulate_char_ocr_spark.operators.graph import (
    link_edges,
    pagerank,
)


def _numpy_pagerank(edges, iterations=8, damping=0.85):
    """Independent dense power iteration with uniform dangling spread."""
    nodes = sorted({s for s, _ in edges} | {t for _, t in edges})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    out = {}
    for s, t in set(edges):
        out.setdefault(s, []).append(t)
    r = np.full(n, 1.0 / n)
    for _ in range(iterations):
        nxt = np.full(n, (1.0 - damping) / n)
        dang = sum(r[idx[v]] for v in nodes if v not in out)
        nxt += damping * dang / n
        for s, ts in out.items():
            share = r[idx[s]] / len(ts)
            for t in ts:
                nxt[idx[t]] += damping * share
        r = nxt
    return {v: r[idx[v]] for v in nodes}


@pytest.fixture(scope="module")
def edge_df(spark):
    edges = [
        ("a.com", "b.com"),
        ("b.com", "c.com"),
        ("c.com", "a.com"),
        ("a.com", "c.com"),
        # d.com is a pure sink: rank must flow in and be redistributed
        ("c.com", "d.com"),
    ]
    return spark.createDataFrame(edges, "src_host string, dst_host string"), edges


def test_link_edges_canonicalizes_and_counts(spark):
    pages = spark.createDataFrame(
        [
            # scheme/host case + default :443 + tracking param + fragment
            # all collapse; the relative href and the self-link drop;
            # b.com is linked twice -> n_links 2
            (
                "a.com",
                '<p><a href="HTTPS://B.Com:443/x?utm_source=f">1</a>'
                '<a class="z" href="https://b.com/x#frag">2</a>'
                '<a href="/relative/path">rel</a>'
                '<a href="http://a.com/self">self</a>'
                '<a href="http://c.com:80/">c</a></p>',
            ),
            ("b.com", '<a href="https://c.com/">only</a>'),
            ("c.com", "<p>no links at all</p>"),
        ],
        "src_host string, html string",
    )
    got = {
        (r.src_host, r.dst_host): r.n_links
        for r in link_edges(pages).collect()
    }
    assert got == {("a.com", "b.com"): 2, ("a.com", "c.com"): 1, ("b.com", "c.com"): 1}


def test_pagerank_matches_numpy_power_iteration(spark, edge_df):
    df, edges = edge_df
    got = {r.host: r.rank for r in pagerank(df, iterations=8).collect()}
    want = _numpy_pagerank(edges, iterations=8)
    assert set(got) == set(want)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-12)


def test_pagerank_mass_conserved(spark, edge_df):
    df, _ = edge_df
    ranks = [r.rank for r in pagerank(df, iterations=3).collect()]
    # dangling redistribution keeps total rank at exactly 1 every step
    assert sum(ranks) == pytest.approx(1.0, abs=1e-12)
    assert all(r > 0 for r in ranks)


def test_pagerank_duplicate_edges_collapse(spark):
    # the same directed edge listed twice must not double its weight
    dup = spark.createDataFrame(
        [("a.com", "b.com"), ("a.com", "b.com"), ("b.com", "a.com")],
        "src_host string, dst_host string",
    )
    got = {r.host: r.rank for r in pagerank(dup, iterations=4).collect()}
    want = _numpy_pagerank([("a.com", "b.com"), ("b.com", "a.com")], 4)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-12)
