"""Per-layer metrics of a traced run.

Layer times come from the spans ``spans.Tracer`` recorded around the
engine's public functions; Spark task metrics from the event log,
attributed through each span's job group; row and byte counts from the
engine's committed files; extract and canonicalize costs from direct
calls on a fixed sample of the run's own pages. Per-round values are
medians over the timed rounds.
"""

from __future__ import annotations

import glob
import os
import statistics
import time

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from pompspark.canon import CANONICAL_PATTERN, canonicalize_series
from pompspark.extract import ref_extract
from pompspark.tables import dir_row_count
from spans import event_log, task_digest

LAYER_SPANS = {
    "frontier.dequeue": {"frontier.materialize_batch", "frontier.dequeue_banded"},
    "frontier.merge": {"FrontierStore.append_delta"},
    "frontier.index_append": {"FrontierStore.index_append"},
    "frontier.compact": {"FrontierStore.compact"},
    "fetch.round_write": {"Catalog.append_with"},
    "seen.add": {"SeenFilter.add"},
    "seen.compact": {"SeenFilter.compact"},
    "tables.append_rows": {"Catalog.append_rows"},
    "tables.append_dir": {"Catalog.append_dir"},
}
# spans whose Spark tasks are digested from the event log
EVENT_SPANS = {
    "dequeue": "frontier.dequeue",
    "round_write": "fetch.round_write",
    "merge": "frontier.merge",
    "compact": "frontier.compact",
}
EVENT_METRICS = {"task_s": "s", "gc_s": "s", "shuffle_bytes": "B",
                 "spill_bytes": "B", "task_skew": "ratio", "tasks_retried": "count"}
# every per-layer metric a traced run prints, with its unit
PER_LAYER = {
    "frontier.dequeue_s": "s", "frontier.dequeue_growth": "ratio",
    "frontier.queued_rows": "count", "frontier.state_rows": "count",
    "frontier.merge_s": "s", "frontier.merge_new_ratio": "ratio",
    "frontier.index_append_s": "s",
    "frontier.compact_s": "s", "frontier.compact_count": "count",
    "fetch.round_write_s": "s", "fetch.rows": "count", "fetch.ok_ratio": "ratio",
    "fetch.retry_rows": "count", "fetch.redirect_rows": "count",
    "fetch.input_bytes": "B", "fetch.output_bytes": "B",
    "extract.page_ms": "ms", "extract.mb_per_s": "MB/s",
    "canon.links_in": "count", "canon.slow_path_ratio": "ratio", "canon.url_us": "us",
    "seen.add_s": "s", "seen.compact_s": "s", "seen.table_bytes": "B",
    "tables.append_rows_s": "s", "tables.append_dir_s": "s",
    "tables.bytes_written": "B", "tables.files_written": "count",
    "engine.round_s": "s", "engine.self_s": "s", "engine.seed_s": "s",
    "engine.spark_jobs_per_round": "count", "engine.urls_per_s_traced": "1/s",
    **{f"{s}.{m}": u for s in EVENT_SPANS for m, u in EVENT_METRICS.items()},
}
SAMPLE_PAGES = 64
MIN_TIMING_S = 0.3


def _med(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _timed_per_call(fn, n_items: int) -> float:
    """Seconds per item of ``fn()`` over ``n_items``, repeated for at
    least MIN_TIMING_S."""
    reps, t0 = 0, time.perf_counter()
    while True:
        fn()
        reps += 1
        dt = time.perf_counter() - t0
        if dt >= MIN_TIMING_S:
            return dt / (reps * n_items)


def collect_round_data(spark, eng, pages_dir: str) -> dict:
    """Everything the layer metrics read from the engine and the run's
    files; called before the session stops."""
    dirs = eng.cat.snapshot_dirs("fetch_log")
    per_round = {}
    if dirs:
        rf = spark.read.schema(
            "round int, status int, links array<string>, location string"
        ).parquet(*dirs).filter(F.col("round").isNotNull())
        link = F.explode(F.when(F.col("status") == 200, F.col("links")))
        slow = rf.select("round", link.alias("href")).groupBy("round").agg(
            F.count("*").alias("links_in"),
            F.sum((~F.col("href").rlike(CANONICAL_PATTERN)).cast("int")).alias("slow"),
        )
        counts = rf.groupBy("round").agg(
            F.count("*").alias("rows"),
            F.sum((F.col("status") == 200).cast("int")).alias("ok"),
            F.sum((F.col("status") == 503).cast("int")).alias("retry"),
            F.sum((F.col("status").between(300, 399) & F.col("location").isNotNull())
                  .cast("int")).alias("redirect"),
        )
        for r in counts.join(slow, "round", "left").collect():
            per_round[r["round"]] = r.asDict()
    frontier_dirs = eng.cat.snapshot_dirs("frontier")
    non_queued = sum(dir_row_count(d, exclude_subdir="state=queued") for d in frontier_dirs)

    # direct calls on a fixed sample of this run's pages
    files = sorted(glob.glob(os.path.join(pages_dir, "*.parquet")))
    html = pq.read_table(files[0], columns=["html"]).column("html").to_pylist()
    step = max(1, len(html) // SAMPLE_PAGES)
    sample = html[::step][:SAMPLE_PAGES]
    hrefs = pd.Series([h for page in sample for h in ref_extract(page)[1]])
    page_s = _timed_per_call(lambda: [ref_extract(h) for h in sample], len(sample))
    return {
        "per_round": per_round,
        "queued_rows": eng.cat.row_count("frontier") - non_queued,
        "state_rows": eng.cat.row_count("frontier_state"),
        "seen_table_bytes": eng.seen_filter.table_bytes() if eng.seen_filter else 0,
        "extract_page_s": page_s,
        "extract_bytes_per_page": sum(len(h) for h in sample) / len(sample),
        "canon_url_s": _timed_per_call(lambda: canonicalize_series(hrefs), len(hrefs)),
    }


def layer_metrics(tracer, rounds: list[dict], data: dict, log_dir: str):
    """(per-layer metrics, each layer's share of round time, whether
    every round's self time plus its child spans equals its wall)."""
    timed = [r for r in rounds if "span" in r]
    index = tracer.by_id()
    m: dict[str, float] = {}
    per_layer: dict[str, list[float]] = {k: [] for k in LAYER_SPANS}
    layer_calls: dict[str, list[float]] = {k: [] for k in LAYER_SPANS}
    round_s, self_s, ok = [], [], True
    for r in timed:
        sid = r["span"]
        span = index[sid]
        kids = sorted(tracer.children(sid), key=lambda s: s.start)
        own = span.dur - sum(k.dur for k in kids)
        # children run one after another on the driver thread, inside
        # the round: self time is what no child span covers
        ok &= own >= -1e-6 and all(
            a.end <= b.start + 1e-6 for a, b in zip(kids, kids[1:])
        ) and all(span.start <= k.start and k.end <= span.end for k in kids)
        round_s.append(span.dur)
        self_s.append(own)
        for name, names in LAYER_SPANS.items():
            calls = tracer.layer(sid, names)
            per_layer[name].append(sum(s.dur for s in calls))
            layer_calls[name].extend(s.dur for s in calls)
    walls = [r["wall"] for r in timed]
    fetched = sum(r["n"] for r in timed)
    dq = per_layer["frontier.dequeue"]
    k = max(1, len(dq) // 3)
    m["frontier.dequeue_s"] = _med(dq)
    m["frontier.dequeue_growth"] = (
        _med(dq[-k:]) / _med(dq[:k]) if dq and _med(dq[:k]) > 0 else 1.0)
    m["frontier.queued_rows"] = data["queued_rows"]
    m["frontier.state_rows"] = data["state_rows"]
    m["frontier.merge_s"] = _med(per_layer["frontier.merge"])
    new_rows = sum(s.count or 0 for r in timed
                   for s in tracer.layer(r["span"], LAYER_SPANS["frontier.merge"]))
    pr = [data["per_round"].get(r["round"], {}) for r in timed]
    discoveries = sum((p.get("links_in") or 0) + (p.get("redirect") or 0) for p in pr)
    m["frontier.merge_new_ratio"] = new_rows / discoveries if discoveries else 0.0
    m["frontier.index_append_s"] = _med(per_layer["frontier.index_append"])
    m["frontier.compact_s"] = _med(layer_calls["frontier.compact"])
    m["frontier.compact_count"] = len(layer_calls["frontier.compact"])
    m["fetch.round_write_s"] = _med(per_layer["fetch.round_write"])
    rows = sum(p.get("rows") or 0 for p in pr)
    m["fetch.rows"] = _med(p.get("rows") or 0 for p in pr)
    m["fetch.ok_ratio"] = sum(p.get("ok") or 0 for p in pr) / rows if rows else 0.0
    m["fetch.retry_rows"] = _med(p.get("retry") or 0 for p in pr)
    m["fetch.redirect_rows"] = _med(p.get("redirect") or 0 for p in pr)
    m["extract.page_ms"] = data["extract_page_s"] * 1e3
    m["extract.mb_per_s"] = data["extract_bytes_per_page"] / data["extract_page_s"] / 1e6
    links = sum(p.get("links_in") or 0 for p in pr)
    m["canon.links_in"] = _med(p.get("links_in") or 0 for p in pr)
    m["canon.slow_path_ratio"] = sum(p.get("slow") or 0 for p in pr) / links if links else 0.0
    m["canon.url_us"] = data["canon_url_s"] * 1e6
    m["seen.add_s"] = _med(per_layer["seen.add"])
    m["seen.compact_s"] = _med(layer_calls["seen.compact"])
    m["seen.table_bytes"] = data["seen_table_bytes"]
    m["tables.append_rows_s"] = _med(per_layer["tables.append_rows"])
    m["tables.append_dir_s"] = _med(per_layer["tables.append_dir"])
    m["tables.bytes_written"] = _med(r["bytes_written"] for r in timed)
    m["tables.files_written"] = _med(r["files_written"] for r in timed)
    m["engine.round_s"] = _med(round_s)
    m["engine.self_s"] = _med(self_s)
    m["engine.seed_s"] = sum(s.dur for s in tracer.spans if s.name == "CrawlEngine.seed")
    m["engine.urls_per_s_traced"] = fetched / sum(walls) if walls else 0.0

    # Spark jobs and task metrics, through each span's job group
    groups, tasks = event_log(log_dir)
    jobs_per_round = []
    for r in timed:
        under = {s.sid for s in tracer.spans
                 if r["span"] in tracer.ancestors(s.sid, index)}
        jobs_per_round.append(sum(n for g, n in groups.items()
                                  if int(g.rsplit("#", 1)[1]) in under))
    m["engine.spark_jobs_per_round"] = _med(jobs_per_round)
    for short, layer in EVENT_SPANS.items():
        digests = []
        for r in timed:
            calls = tracer.layer(r["span"], LAYER_SPANS[layer])
            if not calls:
                continue
            roots = {c.sid for c in calls}
            inner = {s.sid for s in tracer.spans
                     if not roots.isdisjoint(tracer.ancestors(s.sid, index))}
            evs = [ev for g, evs in tasks.items() if int(g.rsplit("#", 1)[1]) in inner
                   for ev in evs]
            digests.append(task_digest(evs))
        for key in ("task_s", "gc_s", "shuffle_bytes", "spill_bytes", "task_skew"):
            m[f"{short}.{key}"] = _med(d[key] for d in digests)
        m[f"{short}.tasks_retried"] = sum(d["tasks_retried"] for d in digests)
        if short == "round_write":
            m["fetch.input_bytes"] = _med(d["input_bytes"] for d in digests)
            m["fetch.output_bytes"] = _med(d["output_bytes"] for d in digests)
    total = sum(round_s)
    share = {name: sum(v) / total for name, v in per_layer.items()} if total else {}
    share["engine.self"] = sum(self_s) / total if total else 0.0
    return m, share, ok
