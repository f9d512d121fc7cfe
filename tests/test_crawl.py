"""Crawl-maintenance operators: snapshot diff (full-outer), relational
robots.txt parse + apply, the crawl schedule, and query parity."""

import duckdb
import pytest

from granulate_char_ocr_spark.operators.crawl import (
    apply_robots,
    robots_rules,
    snapshot_diff,
)


def test_snapshot_diff_statuses(spark):
    old = spark.createDataFrame(
        [("a", "1"), ("b", "2"), ("c", "3")], "url string, content string"
    )
    new = spark.createDataFrame(
        [("b", "2"), ("c", "3x"), ("d", "4")], "url string, content string"
    )
    got = {r.url: r.status for r in snapshot_diff(old, new).collect()}
    assert got == {
        "a": "removed", "b": "unchanged", "c": "changed", "d": "added",
    }


def test_snapshot_diff_null_content_is_presence_not_absence(spark):
    """NULL content on a present row must not read as added/removed,
    and NULL↔NULL compares unchanged (null-safe equality)."""
    old = spark.createDataFrame(
        [("a", None), ("b", None), ("c", "x")],
        "url string, content string",
    )
    new = spark.createDataFrame(
        [("a", "x"), ("b", None), ("c", None)],
        "url string, content string",
    )
    got = {r.url: r.status for r in snapshot_diff(old, new).collect()}
    assert got == {"a": "changed", "b": "unchanged", "c": "changed"}


def test_snapshot_diff_lengths_null_on_missing_side(spark):
    old = spark.createDataFrame([("a", "xyz")], "url string, content string")
    new = spark.createDataFrame([("b", "12")], "url string, content string")
    rows = {r.url: r for r in snapshot_diff(old, new).collect()}
    assert rows["a"].old_len == 3 and rows["a"].new_len is None
    assert rows["b"].old_len is None and rows["b"].new_len == 2


ROBOTS_CASES = [
    # (robots_txt, expected *-group disallow set)
    ("User-agent: *\nDisallow: /x\n", {"/x"}),
    # field-name case + comments + surrounding whitespace
    ("# hi\nuser-agent: *  # star\n  DISALLOW:  /y  \n", {"/y"}),
    # multi-UA run: '*' anywhere in the run governs the group
    ("User-agent: *\nUser-agent: googlebot\nDisallow: /z\n", {"/z"}),
    ("User-agent: googlebot\nUser-agent: *\nDisallow: /z\n", {"/z"}),
    # agent-specific group only → no *-rules
    ("User-agent: googlebot\nDisallow: /g\n", set()),
    # a second group RESETS membership: /b belongs to googlebot only
    (
        "User-agent: *\nDisallow: /a\n\nUser-agent: googlebot\n"
        "Disallow: /b\n",
        {"/a"},
    ),
    # empty Disallow value = allow-all (no rule emitted)
    ("User-agent: *\nDisallow:\n", set()),
    # rules before any UA line are outside any group → ignored
    ("Disallow: /early\nUser-agent: *\nDisallow: /late\n", {"/late"}),
    # comments/blank lines are IGNORED — they must not sever a UA run
    # (a severed run would silently drop the *-group rules)
    ("User-agent: *\n# note\nUser-agent: b\nDisallow: /x\n", {"/x"}),
    ("User-agent: *\n\nUser-agent: b\nDisallow: /y\n", {"/y"}),
    # …but a RULE line does end the run: the second group is b-only
    ("User-agent: *\nDisallow: /a\nUser-agent: b\nDisallow: /b\n", {"/a"}),
]


@pytest.mark.parametrize("txt,want", ROBOTS_CASES)
def test_robots_rules_parse(spark, txt, want):
    df = spark.createDataFrame(
        [("h", txt)], "host string, robots_txt string"
    )
    got = {r.rule for r in robots_rules(df).collect()}
    assert got == want


def _rules_for(spark, txt, agent=None):
    df = spark.createDataFrame(
        [("h", txt)], "host string, robots_txt string"
    )
    return robots_rules(df, agent=agent)


def test_robots_rules_compile_patterns(spark):
    # rule → regex compile: '*' → '.*', trailing '$' → anchor, every
    # other metachar escaped; prio is the raw rule's octet length
    rows = {
        r.rule: r
        for r in _rules_for(
            spark,
            "User-agent: *\nDisallow: /*.zip$\nAllow: /a.b(c)+\n"
            "Disallow: /plain\n",
        ).collect()
    }
    assert rows["/*.zip$"].pattern == r"^/.*\.zip$"
    assert rows["/*.zip$"].prio == 7 and not rows["/*.zip$"].is_allow
    assert rows["/a.b(c)+"].pattern == r"^/a\.b\(c\)\+"
    assert rows["/a.b(c)+"].is_allow
    assert rows["/plain"].pattern == "^/plain" and rows["/plain"].prio == 6


def test_robots_rules_agent_specific_group(spark):
    txt = (
        "User-agent: *\nDisallow: /all/\n\n"
        "User-agent: MyBot\nDisallow: /mine/\n"
    )
    # without an agent (or an agent with no own group): the '*' group
    star = {r.rule for r in _rules_for(spark, txt).collect()}
    other = {r.rule for r in _rules_for(spark, txt, agent="nobot").collect()}
    assert star == other == {"/all/"}
    # our own group displaces '*' entirely, token match case-insensitive
    mine = {r.rule for r in _rules_for(spark, txt, agent="mybot").collect()}
    assert mine == {"/mine/"}


def _apply(spark, urls_rows, robots_txt):
    urls = spark.createDataFrame(
        urls_rows, "doc_id int, url string, host string"
    )
    rules = _rules_for(spark, robots_txt)
    return {r.doc_id: r.allowed for r in apply_robots(urls, rules).collect()}


def test_apply_robots_prefix_and_missing_host(spark):
    got = _apply(
        spark,
        [
            (1, "https://h/a/b", "h"),
            (2, "https://h/c", "h"),
            (3, "https://other/a/b", "other"),  # no robots → allowed
            (4, "https://h", "h"),  # empty path → '/'
        ],
        "User-agent: *\nDisallow: /a\n",
    )
    assert got == {1: False, 2: True, 3: True, 4: True}


def test_disallow_root_blocks_everything(spark):
    got = _apply(
        spark,
        [(1, "https://h/any/path", "h"), (2, "https://h", "h")],
        "User-agent: *\nDisallow: /\n",
    )
    assert got == {1: False, 2: False}


def test_apply_robots_longest_match_allow_override(spark):
    # RFC 9309 §2.2.2: the longest matching rule governs; /private/pub/
    # (Allow, 13 octets) beats /private/ (Disallow, 9)
    got = _apply(
        spark,
        [
            (1, "https://h/private/x", "h"),
            (2, "https://h/private/pub/x", "h"),
            (3, "https://h/open", "h"),
        ],
        "User-agent: *\nDisallow: /private/\nAllow: /private/pub/\n",
    )
    assert got == {1: False, 2: True, 3: True}


def test_apply_robots_tie_breaks_toward_allow(spark):
    got = _apply(
        spark,
        [(1, "https://h/dir/page", "h")],
        "User-agent: *\nDisallow: /dir/\nAllow: /dir/\n",
    )
    assert got == {1: True}


def test_apply_robots_wildcard_and_anchor(spark):
    got = _apply(
        spark,
        [
            (1, "https://h/files/x.pdf", "h"),
            (2, "https://h/files/x.pdf.html", "h"),  # anchor: not blocked
            (3, "https://h/a/deep/cache/z", "h"),
            (4, "https://h/a/cachemiss", "h"),
        ],
        "User-agent: *\nDisallow: /*.pdf$\nDisallow: /a/*/cache\n",
    )
    assert got == {1: False, 2: True, 3: False, 4: True}


def test_apply_robots_metachars_match_literally(spark):
    # a rule containing regex metachars must match them as literals:
    # /a.b blocks /a.b but NOT /aXb
    got = _apply(
        spark,
        [(1, "https://h/a.b/x", "h"), (2, "https://h/aXb/x", "h")],
        "User-agent: *\nDisallow: /a.b\n",
    )
    assert got == {1: False, 2: True}


def test_apply_robots_broadcasts_rules(spark):
    urls = spark.createDataFrame(
        [(1, "https://h/a", "h")], "doc_id int, url string, host string"
    )
    rules = _rules_for(spark, "User-agent: *\nDisallow: /a\n")
    plan = (
        apply_robots(urls, rules)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan


def _duck_docs(sf):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    return con


def test_robots_filter_docs_parity(spark):
    from granulate_char_ocr_spark import driver_queries

    sf = "/root/testdata/sf0.001"
    got = {
        tuple(r)
        for r in driver_queries.QUERIES["robots_filter_docs"](
            spark, sf
        ).collect()
    }
    want = {
        tuple(r)
        for r in _duck_docs(sf)
        .execute(driver_queries.ORACLES["robots_filter_docs"])
        .fetchall()
    }
    assert got == want
    # both outcomes occur, and the casino host is fully blocked
    by_host = {}
    for _, _, host, allowed in got:
        by_host.setdefault(host, set()).add(allowed)
    assert by_host["casino-winbig.example.com"] == {False}
    assert by_host["shop.example.top"] == {True}
    assert by_host["news.example.com"] == {True, False}


def test_web_corpus_manifest_parity(spark):
    """Flagship composition (frontier → robots → canonical dedup →
    WARC fetch → extract) vs the full-chain SQL oracle at sf0.001."""
    from granulate_char_ocr_spark import driver_queries

    sf = "/root/testdata/sf0.001"
    got = {
        tuple(r)
        for r in driver_queries.QUERIES["web_corpus_manifest"](
            spark, sf
        ).collect()
    }
    want = {
        tuple(r)
        for r in _duck_docs(sf)
        .execute(driver_queries.ORACLES["web_corpus_manifest"])
        .fetchall()
    }
    assert got == want
    # the mirror snapshot must vanish at the canonical-dedup stage
    assert all(doc_id < 1000000 for doc_id, _, _ in got)
    # robots bit: news.example.com pages under /p/1* are gone — except
    # /p/16, which the anchored `Allow: /p/16$` override resurrects
    # (RFC 9309 longest-match) — while other news pages survive
    paths = {u.rsplit("/", 1)[-1] for _, u, _ in got
             if "news.example.com" in u}
    assert paths and "16" in paths
    assert not any(p.startswith("1") for p in paths - {"16"})


def test_sessionize_events(spark):
    """W1 gaps-and-islands (a gate entry): exact DuckDB parity."""
    from granulate_char_ocr_spark import driver_queries

    sf = "/root/testdata/sf0.001"
    got = {
        tuple(r)
        for r in driver_queries.sessionize_events(spark, sf).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{sf}/events.parquet'"
    )
    con.execute("SET TimeZone = 'UTC'")
    want = {
        tuple(r)
        for r in con.execute(driver_queries.SESSIONIZE_ORACLE).fetchall()
    }
    assert got == want


def test_anti_join_inactive_customers(spark):
    """E1 left-anti (left the 50-entry gate for crawl_diff_docs in r4;
    difference semantics stay gate-visible via crawl_diff's null
    sides): exact DuckDB parity at sf0.001 — the tier where the result
    is non-empty, unlike the 0-row sf0.01 gate row it replaces."""
    from granulate_char_ocr_spark import driver_queries

    sf = "/root/testdata/sf0.001"
    got = {
        tuple(r)
        for r in driver_queries.anti_join_inactive_customers(
            spark, sf
        ).collect()
    }
    con = duckdb.connect()
    for t in ("customer", "orders"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    want = {
        tuple(r)
        for r in con.execute(driver_queries.ANTI_JOIN_ORACLE).fetchall()
    }
    assert got == want


def test_confusion_matrix_docs(spark):
    """A8 pairwise grouped count (left the 50-entry gate for
    robots_filter_docs in r4; stays gate-visible via ocr_eval_metrics):
    exact DuckDB parity."""
    from granulate_char_ocr_spark import driver_queries

    sf = "/root/testdata/sf0.001"
    got = {
        tuple(r)
        for r in driver_queries.confusion_matrix_docs(spark, sf).collect()
    }
    want = {
        tuple(r)
        for r in _duck_docs(sf)
        .execute(driver_queries.CONFUSION_MATRIX_ORACLE)
        .fetchall()
    }
    assert got == want


def test_crawl_schedule(spark):
    from granulate_char_ocr_spark.operators.crawl import crawl_schedule

    frontier = spark.createDataFrame(
        [
            ("https://big.example/new1", "big.example"),
            ("https://big.example/new2", "big.example"),
            ("https://big.example/stale", "big.example"),
            ("https://big.example/gone", "big.example"),
            ("https://small.example/changed", "small.example"),
            ("https://unknown.example/x", "unknown.example"),
        ],
        "url string, host string",
    )
    ranks = spark.createDataFrame(
        [("big.example", 0.6), ("small.example", 0.1)],
        "host string, rank double",
    )
    diff = spark.createDataFrame(
        [
            ("https://big.example/stale", "unchanged"),
            ("https://big.example/gone", "removed"),
            ("https://small.example/changed", "changed"),
        ],
        "url string, status string",
    )
    out = sorted(
        crawl_schedule(frontier, ranks, diff, per_host_budget=2).collect(),
        key=lambda r: (-r.priority, r.url),
    )
    urls = [r.url for r in out]
    # removed page never scheduled
    assert "https://big.example/gone" not in urls
    # budget 2 per host: big.example keeps its two NEW urls (priority
    # 0.6) and drops the unchanged one (0.03)
    big = [u for u in urls if u.startswith("https://big")]
    assert big == ["https://big.example/new1", "https://big.example/new2"]
    # global order: highest priority first; changed small page (0.08)
    # outranks the unknown-host default (1e-6)
    assert urls.index("https://small.example/changed") < urls.index(
        "https://unknown.example/x"
    )
    # unknown host still crawlable
    assert "https://unknown.example/x" in urls


def test_crawl_schedule_no_diff(spark):
    from granulate_char_ocr_spark.operators.crawl import crawl_schedule

    frontier = spark.createDataFrame(
        [("u1", "h1"), ("u2", "h1"), ("u3", "h1")], "url string, host string"
    )
    ranks = spark.createDataFrame([("h1", 0.5)], "host string, rank double")
    out = crawl_schedule(frontier, ranks, per_host_budget=2).collect()
    # deterministic tie-break by url under equal priority (the per-host
    # window keeps u1/u2; output itself is unsorted by design)
    assert sorted(r.url for r in out) == ["u1", "u2"]


def test_crawl_schedule_frontier_with_status_and_rank_columns(spark):
    # a frontier carrying its own url/status/rank columns must not make
    # the joins ambiguous
    from granulate_char_ocr_spark.operators.crawl import crawl_schedule

    frontier = spark.createDataFrame(
        [("u1", "h1", 200, 0.9)],
        "url string, host string, status int, rank double",
    )
    ranks = spark.createDataFrame([("h1", 0.5)], "host string, rank double")
    diff = spark.createDataFrame(
        [("u1", "changed")], "url string, status string"
    )
    [r] = crawl_schedule(frontier, ranks, diff).collect()
    assert abs(r.priority - 0.5 * 0.8) < 1e-12


def test_crawl_diff_docs_parity(spark):
    """Snapshot diff (left the 50-entry gate in r5; its status output is
    value-checked downstream by crawl_schedule_docs' weights): exact
    DuckDB parity."""
    from parity import assert_parity

    from granulate_char_ocr_spark import driver_queries

    assert_parity(
        spark,
        driver_queries.crawl_diff_docs,
        driver_queries.CRAWL_DIFF_ORACLE,
    )
