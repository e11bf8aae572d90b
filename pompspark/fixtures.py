"""Deterministic fixture builders (FIXTURES.md F1–F4). No rng, no
wall-clock, no network. Used by tests, __spark_entry__ and bench —
shipping them in the package keeps all three on one code path.

pomp analog: tests/tools.py DummyCrawler's class-level sitemap dict
(url -> child urls) + DummyDownloader's canned responses — here the
sitemap becomes a table and the canned responses become the synthetic
``pages`` table the fetch join reads.
"""

from __future__ import annotations

import datetime as dt

import pandas as pd

from pompspark.extract import ref_extract

EPOCH = dt.datetime(2026, 1, 1, 0, 0, 0)  # fixed; never now()

# ---------------------------------------------------------------- F2 small

SMALL_SEED = "http://a.example/p0"

# url -> ordered child urls (anchor order = pos = deterministic tiebreak)
SMALL_SITEMAP: dict[str, list[str]] = {
    "http://a.example/p0": ["http://a.example/p1", "http://a.example/p2", "http://b.example/p0"],
    "http://a.example/p1": ["http://a.example/p3", "http://b.example/p1"],
    "http://a.example/p2": ["http://a.example/p1", "http://c.example/p0"],  # dup a/p1
    "http://b.example/p0": ["http://b.example/p1", "http://b.example/p2"],
    "http://b.example/p1": ["http://c.example/p0"],                          # dup c/p0
    "http://b.example/p2": [],
    "http://a.example/p3": ["http://a.example/p0"],                          # cycle
    "http://c.example/p0": ["http://c.example/p1", "http://c.example/p2"],
    "http://c.example/p1": [],
    "http://c.example/p2": ["http://c.example/p3"],
    "http://c.example/p3": [],
}

# F4 robots fixture rows.
SMALL_ROBOTS = [
    # host, robots_txt, crawl_delay, disallow
    ("a.example", "User-agent: *\nDisallow: /p3\n", 0.0, ["/p3"]),
    ("b.example", "User-agent: *\nCrawl-delay: 1\n", 1.0, []),
    # c.example: no row => allow-all default
]


def page_html(url: str, body_text: str, outlinks: list[str]) -> bytes:
    """F1 html template: title + body + one anchor per outlink."""
    from urllib.parse import urlsplit

    p = urlsplit(url)
    title = f"{p.hostname}{p.path}"
    anchors = "".join(f'<a href="{u}">L</a>' for u in outlinks)
    return (
        f"<html><head><title>{title}</title></head>"
        f"<body>{body_text}{anchors}</body></html>"
    ).encode("utf-8")


def pages_rows(sitemap: dict[str, list[str]], bodies: dict[str, str] | None = None,
               langs: dict[str, str] | None = None,
               redirects: dict[str, str] | None = None) -> pd.DataFrame:
    """Build the pages table (F1 shape) for a sitemap. ``text`` is the
    ground-truth output of the pinned extractor. ``redirects`` adds a
    ``redirect_to`` column (SimulatedFetcher: such urls answer 301 +
    Location instead of their html); redirect-only urls may appear in
    ``redirects`` without a sitemap entry."""
    rows = []
    urls = list(sitemap) + [
        u for u in (redirects or {}) if u not in sitemap
    ]
    for i, url in enumerate(urls):
        kids = sitemap.get(url, [])
        body = (bodies or {}).get(url, f"body of {url}")
        html = page_html(url, body, kids)
        text, _links = ref_extract(html)
        row = {
            "url": url,
            "warc_ts": EPOCH + dt.timedelta(seconds=i),
            "html": html,
            "text": text,
            "lang": (langs or {}).get(url, "en"),
        }
        if redirects is not None:
            row["redirect_to"] = redirects.get(url)
        rows.append(row)
    return pd.DataFrame(rows)


def small_pages_df(spark):
    from pompspark.schemas import PAGES

    return spark.createDataFrame(pages_rows(SMALL_SITEMAP), schema=PAGES)


def small_robots_df(spark):
    from pompspark.schemas import ROBOTS_CACHE

    rows = [
        {"host": h, "robots_txt": txt, "fetched_ts": EPOCH,
         "crawl_delay": delay, "disallow": dis, "allow": None}
        for h, txt, delay, dis in SMALL_ROBOTS
    ]
    return spark.createDataFrame(pd.DataFrame(rows), schema=ROBOTS_CACHE)

