"""Byte-identity contract for the extractor (SURVEY §5.2.2): the Spark
extract boundary must produce byte-identical text vs ``ref_extract``
per row."""

from __future__ import annotations

from pompspark.extract import ref_extract
from pompspark.fixtures import SMALL_SITEMAP, pages_rows, small_pages_df


def test_ref_extract_basic():
    html = b"<html><head><title>t</title></head><body>Hello <b>world</b>" \
           b'<a href="http://x/1">one</a><a href=\'http://x/2\'>two</a></body></html>'
    text, links = ref_extract(html)
    assert text == "t Hello world one two"
    assert links == ["http://x/1", "http://x/2"]


def test_ref_extract_drops_script_style_comments():
    html = (b"<body>A<script>var x=1;</script>B<style>.c{}</style>"
            b"<!-- hidden -->C</body>")
    text, links = ref_extract(html)
    assert text == "A B C"
    assert links == []


def test_ref_extract_entities_and_ws():
    text, _ = ref_extract(b"<p>a&amp;b\n\n  c&#65;</p>")
    assert text == "a&b cA"


def test_ref_extract_unquoted_href_and_none():
    text, links = ref_extract(b"<a href=http://x/3>z</a>")
    assert links == ["http://x/3"]
    assert ref_extract(None) == ("", [])


def test_links_in_document_order():
    _, links = ref_extract(
        b'<a href="/b">x</a><p></p><a href="/a">y</a><a href="/c">z</a>'
    )
    assert links == ["/b", "/a", "/c"]


def test_pages_fixture_text_is_ref_extract():
    pdf = pages_rows(SMALL_SITEMAP)
    for _, row in pdf.iterrows():
        t, links = ref_extract(row["html"])
        assert row["text"] == t
        assert links == SMALL_SITEMAP[row["url"]]


def test_spark_udf_byte_identity(spark):
    """extract_attach_arrow, row by row: utf-8 bytes of its text ==
    bytes of ref_extract's, links == the sitemap's anchors; a NULL html
    row gives text NULL and links []; html is dropped and every other
    column passes through unchanged."""
    from pyspark.sql import functions as F

    from pompspark.extract import extract_attach_arrow

    pages = small_pages_df(spark).withColumnRenamed("text", "expected")
    null_url = "http://null.example/p0"
    pages = pages.unionByName(
        pages.limit(1).withColumn("url", F.lit(null_url))
        .withColumn("html", F.lit(None).cast("binary"))
    )
    want = {r.url: r for r in pages.collect()}
    out = extract_attach_arrow(pages)
    assert out.columns == ["url", "warc_ts", "expected", "lang", "text", "links"]
    rows = out.collect()
    assert sorted(r.url for r in rows) == sorted(want)
    for r in rows:
        src = want[r.url]
        assert (r.warc_ts, r.expected, r.lang) == (
            src.warc_ts, src.expected, src.lang
        ), r.url
        if r.url == null_url:
            assert r.text is None and list(r.links) == []
            continue
        ref_text, _ = ref_extract(bytes(src.html))
        assert r.text.encode("utf-8") == ref_text.encode("utf-8"), r.url
        assert list(r.links) == SMALL_SITEMAP[r.url]
    assert len(rows) == len(SMALL_SITEMAP) + 1


def test_ws_collapse_equivalence():
    """The fast path ' '.join(text.split()) must equal the contract's
    regex form _WS_RE.sub(' ', text).strip() — re \\s and str.isspace
    agree on every unicode codepoint (verified exhaustively when this
    substitution was made); this pins the behavioral contract on
    adversarial samples + hypothesis fuzz."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from pompspark.extract import _WS_RE

    samples = ["", " ", "  a  b  ", "a\x1c\x1d b", "tab\tnl\n cr\r e ",
               "a b", "a  b", "x​z"]  # NBSP, em-space, ZWSP
    for s in samples:
        assert " ".join(s.split()) == _WS_RE.sub(" ", s).strip()

    @settings(max_examples=300, deadline=None)
    @given(st.text(max_size=80))
    def fuzz(s):
        assert " ".join(s.split()) == _WS_RE.sub(" ", s).strip()

    fuzz()
