"""Pins the r6 gen_pages optimization: build_bench_pages' text (per-DOC
extract + JVM assembly) must be byte-identical to ``ref_extract`` run
over each full page's html on the driver — the per-page extraction the
optimization replaced ("legacy" in the test names) — including every
construct that straddles the body's boundaries (unclosed tags,
entities, comments, script blocks at the doc edges), which is exactly
where the assembly argument could break."""

from __future__ import annotations

import os

import pytest

from pompspark.benchgen import build_bench_pages
from pompspark.extract import ref_extract

# docs engineered to stress the body<->preamble and body<->anchor
# boundaries of the assembled text
NASTY_DOCS = [
    "plain words only",
    "entities &amp; dangling &lt tail",
    "ends with unclosed tag <div foo",
    "ends with unclosed script <script>junk",
    "ends with bare open bracket <",
    "unclosed comment at end <!-- never closed",
    "full <script>alert(1)</script> block",
    "literal </body> inside the text",
    "trailing entity no semicolon &amp",
    "  leading and trailing whitespace  ",
    "",
    "self closing <br/> and <IMG SRC=x> tags",
    "a nested <style>p { color: red }</style> rule",
    "<a href=\"http://inner.example/x\">inner link</a> in body",
    "tab\tand\nnewline   runs",
]


def _docs_df(spark, texts):
    return spark.createDataFrame(
        [(i, t, "en", len(t), 0) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, n_chars long, pad long",
    )


def _texts(spark, docs, n_pages: int, outdegree: int, body_repeat: int):
    """url -> (generated text, ref_extract(html) computed on the driver)."""
    df = build_bench_pages(
        spark, docs, n_pages=n_pages, n_hosts=7,
        outdegree=outdegree, body_repeat=body_repeat,
    )
    return {
        r["url"]: (r["text"], ref_extract(bytes(r["html"]))[0])
        for r in df.select("url", "text", "html").collect()
    }


def _assert_text_is_ref_extract(texts):
    for url, (got, want) in texts.items():
        assert got.encode("utf-8") == want.encode("utf-8"), url


@pytest.mark.parametrize("outdegree,body_repeat", [(20, 3), (3, 1), (0, 2)])
def test_fast_text_matches_legacy_on_nasty_docs(spark, outdegree, body_repeat):
    docs = _docs_df(spark, NASTY_DOCS)
    n_pages = len(NASTY_DOCS) * 3  # every doc appears on several pages
    texts = _texts(spark, docs, n_pages, outdegree, body_repeat)
    assert len(texts) == n_pages
    _assert_text_is_ref_extract(texts)


def test_fast_text_matches_legacy_on_sf_docs(spark):
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    path = os.path.join(sf_dir, "documents.parquet")
    if not os.path.exists(path):
        pytest.skip("no testdata")
    docs = spark.read.parquet(path)
    n = docs.count()
    texts = _texts(spark, docs, n * 2, 20, 2)
    assert len(texts) == n * 2
    _assert_text_is_ref_extract(texts)


def test_fast_text_shape(spark):
    """The assembled text starts with the title words and ends with
    outdegree 'L' anchors (sanity on the fixed segments)."""
    docs = _docs_df(spark, ["hello world"])
    texts = _texts(spark, docs, 2, 4, 1)
    for url, (text, _) in texts.items():
        title = url.split("//", 1)[1]
        assert text.startswith(title + " ")
        assert text.endswith(" L L L L")
        assert "hello world" in text
