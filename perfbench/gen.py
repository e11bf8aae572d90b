"""Seeded input generator for the crawl-round benchmark.

Every input the engine sees is a pure function of ``(seed, corpus)``:
the page table (``SimulatedFetcher``'s web), the seed list, the
deep-frontier backlog and the fault columns. The web has the shape of
``pompspark.benchgen.build_bench_pages`` (zipf over 1,000 hosts, fixed
outdegree, bodies of repeated document words, ``bench_robots`` host
names), but hosts, the link graph, each page's document, the seed list
and the fault assignment are all drawn from ``seed``.

Pages are built in Python and written with pyarrow, chunk by chunk, so
generation costs no Spark job and bounded memory. ``text`` is
assembled from the per-document extraction, as the benchgen fast path
does, and ``write_pages`` checks a sample of it against
``extract.ref_extract`` over the full html, so the reference behind
the benchmark's byte-identity check is itself checked for every seed.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from pompspark.extract import ref_extract

N_HOSTS = 1000
SKEW_EXP = 3.5  # host = floor(N_HOSTS * u^SKEW_EXP): host 0 owns ~14%
OUTDEGREE = 20
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]
PAGES_PER_FILE = 1000
TEXT_SAMPLE = 64
# backlog rows sit at depths behind any live BFS band, so an exact
# dequeue ranks every one of them after the live crawl's rows
BACKLOG_DEPTH = 100
BACKLOG_BANDS = 40
BACKLOG_HOSTS = 20000

PAGES_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])
FAULT_FIELDS = [
    ("flaky_fails", pa.int32()),
    ("retry_after_s", pa.float64()),
    ("redirect_to", pa.string()),
]


@dataclass(frozen=True)
class Corpus:
    n_pages: int
    body_repeat: int  # ~300-byte documents, repeated into the page body
    n_seeds: int
    faults: bool = False  # flaky_fails / retry_after_s / redirect_to
    n_docs: int = 64


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _urls(seed: int, n_pages: int) -> list[str]:
    u = _rng(seed, 1).random(n_pages)
    host = np.minimum(N_HOSTS - 1, np.floor(N_HOSTS * u ** SKEW_EXP)).astype(int)
    return [f"http://h{h:04d}.example/p{i}" for i, h in enumerate(host)]


def write_pages(path: str, seed: int, c: Corpus) -> int:
    """Write pages(url, warc_ts, html, text, lang[, flaky_fails,
    retry_after_s, redirect_to]) as parquet files under ``path``.
    Returns the number of sampled pages whose ``text`` differs from
    ``ref_extract(html)`` (0 when the generator is right).

    With ``faults``, 10% of pages answer 503 once or twice before they
    succeed (half of them with a Retry-After of 1 or 2 s) and 5%
    answer 301 to another page of the corpus."""
    os.makedirs(path, exist_ok=True)
    n = c.n_pages
    urls = _urls(seed, n)
    doc_rng = _rng(seed, 2)
    docs = [" ".join(doc_rng.choice(VOCAB, 50)) for _ in range(c.n_docs)]
    langs = doc_rng.choice(LANGS, c.n_docs)
    bodies = [d * c.body_repeat for d in docs]
    # the pinned extractor over a page holding only the body gives the
    # body the same tag-boundary byte context as the full page
    body_text = [
        ref_extract(f"<html><head><title></title></head><body>{b}</body></html>")[0]
        for b in bodies
    ]
    doc_of = doc_rng.integers(0, c.n_docs, n)
    children = _rng(seed, 3).integers(0, n, (n, OUTDEGREE))
    fault_u = _rng(seed, 4).integers(0, 1000, n)
    redirect_target = _rng(seed, 5).integers(0, n, n)
    trailer = " ".join(["L"] * OUTDEGREE)
    schema = PAGES_SCHEMA
    if c.faults:
        for name, typ in FAULT_FIELDS:
            schema = schema.append(pa.field(name, typ))
    sample_every = max(1, n // TEXT_SAMPLE)
    mismatches = 0

    def chunk(f0: int) -> pa.Table:
        nonlocal mismatches
        rows = range(f0, min(n, f0 + PAGES_PER_FILE))
        html, text = [], []
        for i in rows:
            title = urls[i][len("http://"):]
            d = doc_of[i]
            anchors = "".join(f'<a href="{urls[j]}">L</a>' for j in children[i])
            h = (f"<html><head><title>{title}</title></head><body>"
                 f"{bodies[d]}{anchors}</body></html>").encode()
            t = " ".join(s for s in (title, body_text[d], trailer) if s)
            if i % sample_every == 0:
                mismatches += ref_extract(h)[0] != t
            html.append(h)
            text.append(t)
        cols = {
            "url": urls[rows.start:rows.stop],
            "warc_ts": pa.array(
                (1767225600 + np.arange(rows.start, rows.stop)) * 1_000_000,
                pa.int64()).cast(schema.field("warc_ts").type),
            "html": html,
            "text": text,
            "lang": [langs[doc_of[i]] for i in rows],
        }
        if c.faults:
            u = fault_u[rows.start:rows.stop]
            cols["flaky_fails"] = np.where(u < 100, 1 + u % 2, 0).astype(np.int32)
            cols["retry_after_s"] = pa.array((1.0 + u % 2), mask=u >= 50)
            cols["redirect_to"] = [
                urls[redirect_target[i]] if 100 <= fault_u[i] < 150 else None
                for i in rows
            ]
        return pa.table(cols, schema=schema)

    # pyarrow's zstd writer releases the GIL: chunks compress on pool
    # threads while the next chunk's strings are built; at most
    # ``workers`` chunks are held at once
    workers = len(os.sched_getaffinity(0))
    pending: list = []
    with ThreadPoolExecutor(max_workers=workers) as pool:
        for f0 in range(0, n, PAGES_PER_FILE):
            if len(pending) >= workers:
                pending.pop(0).result()
            pending.append(pool.submit(
                pq.write_table, chunk(f0),
                os.path.join(path, f"part-{f0 // PAGES_PER_FILE:05d}.parquet"),
                compression="zstd",
            ))
        for w in pending:
            w.result()
    return mismatches


def seed_urls(seed: int, c: Corpus) -> list[str]:
    """``c.n_seeds`` distinct page urls, in a seed-dependent order."""
    urls = _urls(seed, c.n_pages)
    return [urls[i] for i in _rng(seed, 6).choice(c.n_pages, c.n_seeds, replace=False)]


def backlog_df(spark, n_rows: int, partitions: int):
    """FRONTIER-shaped queued rows on hosts the corpus never links to,
    at the live crawl's child priority but depths far behind it: an
    exact dequeue scans and ranks them every round and never selects
    one while live work remains. ``seq`` is unique and inside the
    packing contract's range."""
    from pyspark.sql import functions as F

    from pompspark.frontier import FRONTIER_COLS, SALT_N

    bid = F.col("id")
    host = F.concat(F.lit("bl"), (bid % BACKLOG_HOSTS).cast("string"), F.lit(".example"))
    url = F.concat(F.lit("http://"), host, F.lit("/x"), bid.cast("string"))
    band = (F.lit(BACKLOG_DEPTH) + bid % BACKLOG_BANDS).cast("int")
    return spark.range(0, n_rows, 1, partitions).select(
        url.alias("url"),
        F.xxhash64(url).alias("url_hash"),
        F.hash(url).alias("url_murmur3"),
        host.alias("host"),
        band.alias("depth"),
        F.lit(0.5).alias("priority"),
        band.alias("discovered_round"),
        (F.lit(1 << 44).cast("long") + bid).alias("seq"),
        F.pmod(F.hash(url), F.lit(SALT_N)).cast("int").alias("salt"),
        F.lit("queued").alias("state"),
    ).select(*FRONTIER_COLS)


def robots_disallowed(url_col):
    """True where the bench robots fixture (``benchgen.bench_robots``:
    every 13th host disallows ``/p1``) forbids the url. Written from
    the fixture's rule, not through ``pompspark.robots``, so the check
    shares no code with what it checks."""
    from pyspark.sql import functions as F

    host_id = F.regexp_extract(url_col, r"^http://h(\d{4})\.example/", 1)
    path = F.regexp_extract(url_col, r"^http://[^/]+(/.*)$", 1)
    return (host_id != "") & (host_id.cast("int") % 13 == 0) & path.startswith("/p1")
