"""Physical-plan regression tests: the plan properties that make this engine
scale are pinned here so a refactor can't silently lose them.

(`.explain` text is stable enough for these coarse assertions; each test
checks a structural property, not exact operator ids.)
"""

import pytest
from pyspark.sql import functions as F

from granulate_char_ocr_spark.plans.pipeline import extract_flat
from granulate_char_ocr_spark.sources.synthetic import corpus_spark


def _plan(df, mode="formatted"):
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            mode
        )
    )


@pytest.fixture(scope="module")
def corpus(spark):
    docs, media, _ = corpus_spark(spark, 40, seed=3)
    return docs, media


def test_salt_exchange_carries_no_pixels(spark, corpus):
    """The salted repartition (per-span path) must exchange only span keys —
    pixel bytes attach after the exchange via the broadcast join."""
    docs, media = corpus
    flat = extract_flat(docs, media, dedup_media=False, detail=False)
    plan = _plan(flat)
    # formatted mode: each "(n) Exchange" block is followed by an
    # "Input [...]" line listing the exchanged columns
    lines = plan.splitlines()
    exchange_inputs = []
    for i, l in enumerate(lines):
        if l.strip().startswith("(") and l.strip().endswith(" Exchange"):
            for j in range(i + 1, min(i + 4, len(lines))):
                if lines[j].startswith("Input"):
                    exchange_inputs.append(lines[j])
                    break
    assert exchange_inputs, plan
    for inp in exchange_inputs:
        assert "pixels" not in inp, inp
    # and the salted hash exchange exists
    assert "hashpartitioning(doc_id" in plan, plan


def test_dedup_path_broadcasts_media_and_results(spark, corpus):
    docs, media = corpus
    flat = extract_flat(docs, media, dedup_media=True, detail=False)
    plan = _plan(flat, "simple")
    assert plan.count("BroadcastHashJoin") >= 2  # store join + results join


def test_parquet_filter_pushdown(spark, tmp_path):
    p = str(tmp_path / "t.parquet")
    spark.range(1000).withColumn("v", F.col("id") * 2).write.parquet(p)
    df = spark.read.parquet(p).filter(F.col("id") > 500).select("v")
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(id), GreaterThan(id,500)" in plan
    assert "ReadSchema" in plan


def test_topk_compiles_to_take_ordered(spark, corpus):
    from granulate_char_ocr_spark import driver_queries as dq

    q = dq.QUERIES["q3_top_revenue_orders"](spark, "/root/testdata/sf0.001")
    assert "TakeOrderedAndProject" in _plan(q, "simple")


def test_salt_spreads_heavy_doc(spark):
    """The 50x media-heavy doc's spans must land in multiple partitions after
    the salted repartition (the whole point of the salt)."""
    from granulate_char_ocr_spark.operators.skew import salt_repartition
    from granulate_char_ocr_spark.plans.pipeline import explode_spans

    docs, _, _ = corpus_spark(spark, 110, seed=42)  # includes heavy doc #7
    spans = explode_spans(docs).filter(F.col("kind") == "media")
    salted = salt_repartition(spans, n_salts=8)
    heavy = (
        salted.withColumn("pid", F.spark_partition_id())
        .filter(F.col("doc_id") == "doc_00000007")
        .select("pid")
        .distinct()
        .count()
    )
    assert heavy >= 4, f"heavy doc only spread across {heavy} partitions"


def test_stitch_single_exchange(spark, corpus):
    """Document re-assembly is exactly one aggregate exchange over doc_id."""
    from granulate_char_ocr_spark.operators.stitch import assemble_documents

    docs, media = corpus
    flat = extract_flat(docs, media, detail=False).select(
        "doc_id", "offset", "kind", "text", "media_ref"
    )
    plan = _plan(assemble_documents(flat), "simple")
    # the only hashpartitioning exchanges allowed: kernel-stage repartition
    # (media_ref) and the doc_id re-assembly
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges <= 3, plan


def test_ascii_text_rows_normalize_without_python(spark):
    """The text branch is plan-split: an all-ASCII corpus produces NO
    ArrowEvalPython in the text path (NFC is identity on ASCII and a pandas
    UDF in a when() would run on every row), while non-ASCII rows still get
    real NFC — outputs equal the single-path normalizer on mixed data."""
    import pyspark.sql.functions as SF

    from granulate_char_ocr_spark.functions.text import normalize_python
    from granulate_char_ocr_spark.plans.pipeline import extract_flat

    media = spark.createDataFrame(
        [], "media_ref string, word string, width int, height int, pixels binary"
    )
    mixed = ["plain ascii!", "nfd: café", "  Tabs\tand SPACES  ", None, "über!"]
    docs = spark.createDataFrame(
        [
            (
                f"d{i}",
                [{"kind": "text", "text": t, "media_ref": None, "offset": 1}],
            )
            for i, t in enumerate(mixed)
        ],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    flat = extract_flat(docs, media)
    got = {r["doc_id"]: r["text"] for r in flat.collect()}
    assert got == {f"d{i}": normalize_python(t) for i, t in enumerate(mixed)}

    ascii_docs = docs.filter(SF.col("doc_id").isin("d0", "d2"))
    plan = (
        extract_flat(ascii_docs, media)
        .filter(SF.col("kind") == "text")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the union's NFC leg is present but receives zero rows for ASCII input;
    # the fast leg itself must be UDF-free — verify by planning it alone
    from granulate_char_ocr_spark.functions.text import (
        ASCII_ONLY_RE,
        normalize_jvm_expr,
    )
    from granulate_char_ocr_spark.plans.pipeline import explode_spans

    fast = (
        explode_spans(ascii_docs)
        .filter(SF.col("text").rlike(ASCII_ONLY_RE))
        .withColumn("text", normalize_jvm_expr(SF.col("text")))
    )
    fast_plan = fast._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in fast_plan and "EvalPython" not in fast_plan


def test_kernel_stage_exchange_has_explicit_partition_count(spark, corpus):
    """The extraction kernel's input exchange must carry the EXPLICIT
    cores x 4 partition count (a plain key-only exchange would be coalesced
    to ~1 partition by AQE's bytes-based sizing, serializing the pixel-UDF
    stage — CLAUDE.md gotcha, pinned here at the plan level)."""
    import re

    from granulate_char_ocr_spark.plans.pipeline import extract_flat

    docs, media = corpus
    plan = (
        extract_flat(docs, media)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    want = spark.sparkContext.defaultParallelism * 4
    counts = re.findall(r"hashpartitioning\(media_ref[^)]*, (\d+)\)", plan)
    assert str(want) in counts, (want, counts)


def test_partition_policy_at_four_cores(spark, corpus):
    """operators/skew.py's policy at the suite's local[4]: exchanges that
    feed a kernel get cores x 4 = 16 partitions; the n-gram slices and the
    embedding blocks, whose every task ships a replicated payload, get one
    per core (4 slices; 4 blocks = 10 block pairs, one per task)."""
    import re

    from granulate_char_ocr_spark.operators import dedup
    from granulate_char_ocr_spark.operators.multimodal import decode_media_store
    from granulate_char_ocr_spark.plans.pipeline import extract_documents

    assert spark.sparkContext.defaultParallelism == 4
    docs, media = corpus
    by_num = r"hashpartitioning\({}, 16\), REPARTITION_BY_NUM"
    shared = _plan(extract_documents(docs, media), "simple")
    assert re.search(by_num.format(r"media_ref#\d+"), shared), shared
    salted = _plan(extract_documents(docs, media, dedup_media=False), "simple")
    assert re.search(by_num.format(r"doc_id#\d+, _salt#\d+L"), salted), salted
    decoded = _plan(decode_media_store(media), "simple")
    assert "RoundRobinPartitioning(16), REPARTITION_BY_NUM" in decoded, decoded

    texts = spark.createDataFrame(
        [(i, "a b c d e") for i in range(8)], "doc_id bigint, text string"
    )
    ngram = _plan(dedup.ngram_jaccard_pairs(texts), "simple")
    assert "Range (0, 4, step=1, splits=4)" in ngram, ngram

    vectors = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(8)], "vec_id long, embedding array<float>"
    )
    near = dedup.embedding_near_pairs(vectors, sign_dims=2)

    def walk(node):
        kids = [node.children().apply(i) for i in range(node.children().size())]
        yield node, kids
        for kid in kids:
            yield from walk(kid)

    def pair_scan(node):  # the in-memory RDD scan that outputs bl, br
        return node.nodeName() == "Scan ExistingRDD" and "bl#" in node.toString()

    def has(root, pred):
        return any(pred(n) for n, _ in walk(root))

    plan = near._jdf.queryExecution().sparkPlan()
    pair_rows = [n.rdd().count() for n, _ in walk(plan) if pair_scan(n)]
    assert pair_rows == [10], pair_rows
    # the kernel's tasks are the partitions in which the first join streams
    # the pair relation: one block pair each, no task runs two or none
    per_task = [
        [len(part) for part in kid.execute().glom().collect()]
        for node, kids in walk(plan)
        if "Join" in node.nodeName()
        for kid in kids
        if has(kid, pair_scan) and not has(kid, lambda n: "Join" in n.nodeName())
    ]
    assert per_task == [[1] * 10], per_task


def test_quality_score_docs(spark):
    """F22 quality scoring (left the 50-entry gate for pagerank_hosts in
    r4; the shape stays gate-visible via quality_filter_docs and the
    manifest quality legs): exact DuckDB parity."""
    import duckdb

    from granulate_char_ocr_spark import driver_queries

    sf = "/root/testdata/sf0.001"
    got = {
        tuple(r) for r in driver_queries.quality_score_docs(spark, sf).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    want = {
        tuple(r)
        for r in con.execute(driver_queries.QUALITY_SCORE_ORACLE).fetchall()
    }
    assert got == want


def test_html_extract_docs(spark):
    """Name-based HTML boilerplate strip (left the 50-entry gate for
    link_graph_hosts in r4; stays gate-visible via html_main_content_docs
    / markdown_convert_docs / warc_extract_docs): exact DuckDB parity —
    the synthetic page build AND the strip cascade both under test."""
    import duckdb

    from granulate_char_ocr_spark import driver_queries

    sf = "/root/testdata/sf0.001"
    got = {
        tuple(r) for r in driver_queries.html_extract_docs(spark, sf).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    want = {
        tuple(r)
        for r in con.execute(driver_queries.HTML_EXTRACT_ORACLE).fetchall()
    }
    assert got == want


def _duck_events(sf):
    import duckdb

    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{sf}/events.parquet'")
    con.execute("SET TimeZone = 'UTC'")
    return con


def test_rank_orders_per_customer(spark):
    """W5 per-group top-k (left the 50-entry gate for the curation family
    in r4): checked against DuckDB via the retained oracle."""
    import duckdb

    from granulate_char_ocr_spark import driver_queries

    sf = "/root/testdata/sf0.001"
    got = {
        tuple(r)
        for r in driver_queries.rank_orders_per_customer(spark, sf).collect()
    }
    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM '{sf}/orders.parquet'")
    want = {
        tuple(r)
        for r in con.execute(driver_queries.RANK_ORDERS_ORACLE).fetchall()
    }
    assert got == want


def test_rollup_order_priority(spark):
    """ROLLUP grouping sets (left the 50-entry gate for the quality-LM
    family in r4): checked against DuckDB via the retained oracle."""
    import duckdb

    from granulate_char_ocr_spark import driver_queries

    sf = "/root/testdata/sf0.001"
    got = {
        tuple(r)
        for r in driver_queries.rollup_order_priority(spark, sf).collect()
    }
    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM '{sf}/orders.parquet'")
    want = {
        tuple(r)
        for r in con.execute(
            driver_queries.ROLLUP_PRIORITY_ORACLE
        ).fetchall()
    }
    assert got == want
