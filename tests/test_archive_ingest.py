"""End-to-end corpus-tarball ingest: archive_members -> extension route
-> per-format extraction (DOCX / PDF / HTML) in one composed plan — the
ingest story for corpora that arrive as tarballs of mixed documents."""

import pandas as pd
from pyspark.sql import functions as F

from granulate_char_ocr_spark.functions import tar, zipdocx
from granulate_char_ocr_spark.functions.pdf import encode_pdf
from granulate_char_ocr_spark.operators.docparse import (
    archive_members,
    docx_texts,
    html_main_texts,
    pdf_texts,
)


def test_tarball_to_texts_end_to_end(spark):
    tarball = tar.tar_build(
        {
            "docs/report.docx": zipdocx.docx_build(["Quarterly", "Results"]),
            "docs/paper.pdf": encode_pdf(["PDF LINE ONE", "PDF LINE TWO"]),
            "web/page.html": (
                b"<html><head><title>t</title></head><body>"
                b"<nav>menu</nav><p>Hello from the web page body, which "
                b"carries enough prose to pass the density rule.</p>"
                b"</body></html>"
            ),
            "notes.txt": b"plain text rides through untouched",
        },
        gz=True,
    )
    archives = spark.createDataFrame(
        pd.DataFrame({"doc_id": ["t1"], "payload": [tarball]})
    )
    members = archive_members(archives).withColumn(
        "ext", F.regexp_extract("member_name", r"\.(\w+)$", 1)
    )
    members.cache()
    assert members.count() == 4
    # the format legs read (doc_id, payload): a member is a document
    routed = members.select(
        F.col("member_name").alias("doc_id"),
        F.col("member").alias("payload"),
        "ext",
    )

    docx = docx_texts(routed.filter(F.col("ext") == "docx"))
    got_docx = {r["doc_id"]: r["extracted"] for r in docx.collect()}
    assert got_docx == {"docs/report.docx": "Quarterly\nResults"}

    pdf = pdf_texts(routed.filter(F.col("ext") == "pdf"))
    got_pdf = {r["doc_id"]: r["extracted"] for r in pdf.collect()}
    assert got_pdf["docs/paper.pdf"].splitlines() == [
        "PDF LINE ONE", "PDF LINE TWO",
    ]

    html = html_main_texts(
        members.filter(F.col("ext") == "html").withColumn(
            "html", F.col("member").cast("string")
        ),
        key_col="member_name",
    )
    got_html = html.collect()[0]["main_text"]
    assert "Hello from the web page body" in got_html
    assert "menu" not in got_html

    txt = members.filter(F.col("ext") == "txt").select(
        F.col("member").cast("string").alias("text")
    )
    assert txt.collect()[0]["text"] == "plain text rides through untouched"
    members.unpersist()
