"""HTML -> (text, links) extraction with a byte-identity contract.

``ref_extract`` is the PINNED REFERENCE EXTRACTOR (BASELINE.json
input_hint: "per-row invariant vs the reference: byte-identical
extracted text per url"). It is pure-Python/regex, deterministic,
locale-free, and operates on bytes only — no wall clock, no locale
tables. Spark crosses into Python for it at ONE boundary,
``extract_attach_arrow`` (``mapInArrow``), which calls the SAME
function on Arrow batches, so byte-identity holds by construction;
``tests/test_extract.py`` still asserts it row-by-row on utf-8 bytes.
``HttpFetcher`` is the only other caller: its transport already runs
in a ``mapInPandas`` pass, and ``extract_frame`` shares that pass
rather than adding a second Python hop.

pomp analog: ``BaseCrawler.extract_items(response)`` +
``BaseCrawler.next_requests(response)`` (pomp/core/base.py) — the user
parse generator that yields items and follow-up requests from one
response. Here both outputs come from one vectorized pass: the text
(the "item") and the outlink list (the "next requests"), mirroring
pomp's mixed-yield semantics (SURVEY §2.4.4) as one struct column
split into two flows by the engine.
"""

from __future__ import annotations

import html as _htmlmod
import re

import pandas as pd

# Tag classes whose *content* is dropped entirely.
_DROP_CONTENT_RE = re.compile(
    rb"<(script|style|noscript|template)\b[^>]*>.*?</\1\s*>",
    re.IGNORECASE | re.DOTALL,
)
_COMMENT_RE = re.compile(rb"<!--.*?-->", re.DOTALL)
# href extraction happens BEFORE tag stripping, in document order.
_HREF_RE = re.compile(
    rb"<a\b[^>]*?\bhref\s*=\s*(?:\"([^\"]*)\"|'([^']*)'|([^\s>]+))",
    re.IGNORECASE | re.DOTALL,
)
_TAG_RE = re.compile(rb"<[^>]*>")
_WS_RE = re.compile(r"\s+")


def ref_extract(html: bytes) -> tuple[str, list[str]]:
    """The pinned extractor. html bytes -> (text, raw hrefs in order).

    text: utf-8 decode (errors=replace) of the markup with
    script/style/noscript/template content, comments and tags removed,
    entities unescaped, and whitespace collapsed to single spaces
    (strip()ed). Deterministic for any byte input.
    """
    if html is None:
        return "", []
    if isinstance(html, str):
        html = html.encode("utf-8")
    links: list[str] = []
    for m in _HREF_RE.finditer(html):
        raw = m.group(1) if m.group(1) is not None else (
            m.group(2) if m.group(2) is not None else m.group(3)
        )
        links.append(raw.decode("utf-8", errors="replace"))
    body = _COMMENT_RE.sub(b" ", html)
    body = _DROP_CONTENT_RE.sub(b" ", body)
    body = _TAG_RE.sub(b" ", body)
    text = body.decode("utf-8", errors="replace")
    text = _htmlmod.unescape(text)
    # " ".join(split()) == _WS_RE.sub(" ", text).strip() EXACTLY (re \s
    # and str.isspace agree on every codepoint — pinned by
    # test_ws_collapse_equivalence) and is ~5x faster; ws-collapse was
    # 86% of extract time, the round loop's dominant python cost.
    text = " ".join(text.split())
    return text, links


def extract_frame(html_series: pd.Series) -> pd.DataFrame:
    """Vectorized wrapper: one Arrow batch of html -> DataFrame with
    ``text`` (str) and ``links`` (list[str]) columns."""
    texts: list[str] = []
    links: list[list[str]] = []
    for h in html_series:
        t, l = ref_extract(h)
        texts.append(t)
        links.append(l)
    return pd.DataFrame({"text": texts, "links": links}, index=html_series.index)


# ---------------------------------------------------------------- Spark side


def extract_attach_arrow(df, html_col: str = "html"):
    """Append ``text``/``links`` extracted from ``html_col`` and DROP
    the html column — pyarrow-native ``mapInArrow``, the one Spark-side
    extract boundary (SimulatedFetcher, benchgen).

    Vs a pandas_udf column this skips the Arrow->pandas->Arrow
    conversion layers on both sides (binary Series materialization in,
    object-Series-of-lists to list<string> out); measured ~2.7 s/round
    at bench scale on identical output (OPTIMIZATION_r06.md §4: pandas
    15.6-16.4 s vs arrow 13.2-13.4 s on the same joined hits). NULL
    html rows yield text=NULL, links=[], so a caller that nulls html
    for non-200 rows gets no text off the ok path. Remains a narrow map
    op: fuses into the caller's scan/join stage, no exchange."""
    import pyarrow as pa
    from pyspark.sql import types as T

    keep = [f for f in df.schema.fields if f.name != html_col]
    out_schema = T.StructType(
        list(keep)
        + [
            T.StructField("text", T.StringType()),
            T.StructField("links", T.ArrayType(T.StringType())),
        ]
    )
    keep_names = [f.name for f in keep]

    def gen(batches):
        for rb in batches:
            texts: list = []
            links: list = []
            for h in rb.column(html_col):
                hv = h.as_py()
                if hv is None:
                    texts.append(None)
                    links.append([])
                else:
                    t, l = ref_extract(hv)
                    texts.append(t)
                    links.append(l)
            cols = [rb.column(n) for n in keep_names]  # zero-copy
            yield pa.RecordBatch.from_arrays(
                cols
                + [
                    pa.array(texts, type=pa.string()),
                    pa.array(links, type=pa.list_(pa.string())),
                ],
                names=keep_names + ["text", "links"],
            )

    return df.mapInArrow(gen, schema=out_schema)
