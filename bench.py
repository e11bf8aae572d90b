#!/usr/bin/env python
"""Crawl-engine benchmark. Prints ONE JSON line:
  {"metric": ..., "value": <total timed sec>, "unit": "sec",
   "queries": {<stage>: sec, ...}, "sf": ..., "urls_per_sec": ...}

Protocol v2 (BASELINE.md): synthetic Common-Crawl-style pages derived
deterministically from $SPARK_GRAFT_SF_DIR documents (seed-42 hash
graph, zipf hosts, ~30 KB html bodies), 2 warm-up rounds + 5 timed
FULL-budget rounds of the full engine (dequeue -> fetch/extract ->
sinks -> merge -> checkpoint), straggler rounds (wall > 2x median)
replaced by up to 2 extra rounds. Headline = median per-round
urls/sec over full non-replaced rounds; total-based urls_per_sec kept
for r1-r4 comparability.

Env knobs: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, BENCH_PAGES,
BENCH_BUDGET, BENCH_ROUNDS, BENCH_MAX_EXTRA, BENCH_STRAGGLER_X,
BENCH_WORKDIR.
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Crash tolerance: BENCH_r03 was a zero record because a host flake
# (one crashed Python worker) burned the driver's timeout and nothing
# was printed. Every completed stage/round now lands in _PARTIAL, and
# any exception OR SIGTERM (what `timeout` sends) emits it as a JSON
# line with an "error" field — a flake degrades the record, never
# zeroes it.
_PARTIAL: dict = {
    "metric": "crawl_fetch_extract_merge_total_sec",
    "value": None,
    "unit": "sec",
    "queries": {},
    "partial": True,
}


def _emit_partial(reason: str) -> None:
    out = dict(_PARTIAL)
    out["error"] = reason
    print(json.dumps(out), flush=True)


def _sigterm(_signo, _frame):
    _emit_partial("sigterm_timeout")
    os._exit(143)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # r4 protocol (jitter-robust): 5 timed rounds, every one fetching
    # the FULL budget — the 1M-page corpus leaves ~95% reachable, so
    # warm-up (2x40k) + 5x120k + up to 2 straggler-replacement rounds
    # all draw full batches (the old 400k corpus exhausted mid-round-3,
    # making the last sample structurally partial). Measured on this
    # host: the 2.5x corpus does NOT slow rounds (page-cached snappy
    # scan), rates [3251, 3619, 2760, 3552, 3812] urls/s.
    n_pages = int(os.environ.get("BENCH_PAGES", "1000000"))
    budget = int(os.environ.get("BENCH_BUDGET", "120000"))
    timed_rounds = int(os.environ.get("BENCH_ROUNDS", "5"))
    max_extra = int(os.environ.get("BENCH_MAX_EXTRA", "2"))
    workdir = os.environ.get(
        "BENCH_WORKDIR", os.path.join(os.path.dirname(os.path.abspath(__file__)), ".bench")
    )
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    _PARTIAL["sf"] = sf
    _PARTIAL["config"] = {"cpus": cpus, "n_pages": n_pages, "budget": budget}

    from pompspark.benchgen import bench_robots, bench_seed_urls, build_bench_pages
    from pompspark.engine import simulated_engine
    from pompspark.session import build_spark

    spark = build_spark(
        f"local[{cpus}]",
        app_name="pompspark-bench",
        shuffle_partitions=cpus,
        # html-heavy rows: small splits so the pages scan (the fetch's
        # stream side) fans out to >= cores tasks, not ~14 fat ones.
        extra_conf={"spark.sql.files.maxPartitionBytes": "4m"},
    )

    timings: dict[str, float] = _PARTIAL["queries"]

    # ---------------- untimed setup: generate + persist the web ---------
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir, exist_ok=True)
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    t0 = time.monotonic()
    pages_path = os.path.join(workdir, "pages")
    # Many small files: snappy compresses the synthetic bodies ~10x, and
    # split planning sees COMPRESSED bytes — without enough files the
    # extract stage (the round's dominant CPU) can't fan out to all
    # threads. 256 files => >=256 scan tasks at any parallelism level.
    build_bench_pages(spark, docs, n_pages=n_pages).repartition(256).write.mode(
        "overwrite"
    ).parquet(pages_path)
    timings["gen_pages"] = round(time.monotonic() - t0, 3)
    pages = spark.read.parquet(pages_path)
    if os.environ.get("BENCH_CACHE_PAGES", "0") == "1":
        # measured and rejected as the default: caching the ~12 GB
        # html corpus on-heap doubles round times at local[32] (GC
        # pressure beats the saved parquet decode); kept as a knob for
        # smaller corpora / bigger heaps.
        pages = pages.persist()
        pages.count()

    seeds = bench_seed_urls(spark, n_pages, n_hosts=1000, n_seeds=int(os.environ.get("BENCH_SEEDS", "10000")))
    robots = bench_robots(spark).persist()
    robots.count()
    use_seen = os.environ.get("BENCH_SEEN", "0") == "1"
    seen_mode = os.environ.get("BENCH_SEEN_MODE", "exact") if use_seen else "exact"
    seen_shards = int(os.environ.get("BENCH_SEEN_SHARDS", "32"))
    # BENCH_PRESEED=N simulates a MATURE crawl: N already-seen urls
    # inflate the merge's exact-anti-join side (frontier_index) and the
    # bloom contents before the timed rounds — the regime where the
    # per-round index scan dominates and the approx seen filter's
    # O(batch) merge wins (BENCH/BASELINE.md crossover table).
    preseed = int(os.environ.get("BENCH_PRESEED", "0"))
    # BENCH_BANDED=1: band-pruned dequeue (the 10^10-frontier dequeue
    # story — read sort-key-prefix bands until the budget fills instead
    # of scanning the whole queued frontier). Needs a banded compacted
    # layout to prune, so pair with BENCH_COMPACT_EVERY (compaction
    # during warm-up builds the bands the timed rounds then skip).
    banded = os.environ.get("BENCH_BANDED", "0") == "1"
    compact_every = int(os.environ.get("BENCH_COMPACT_EVERY", "0"))
    eng = simulated_engine(
        spark,
        os.path.join(workdir, "state"),
        pages,
        robots_df=robots,
        ordering="bfs",
        per_round_budget=budget,
        per_host_budget=int(os.environ.get("BENCH_HOST_BUDGET", "5000")),
        compact_every=compact_every,
        banded_dequeue=banded,
        use_seen_filter=use_seen,
        seen_mode=seen_mode,
        seen_shards=seen_shards,
        seen_capacity_per_shard=max(
            100_000, n_pages // 16, preseed * 2 // seen_shards
        ),
    )
    t0 = time.monotonic()
    eng.seed(seeds)
    timings["seed"] = round(time.monotonic() - t0, 3)
    if preseed:
        from pyspark.sql import functions as F

        t0 = time.monotonic()
        pre = spark.range(preseed).select(
            F.concat(F.lit("http://pre.example/x"),
                     F.col("id").cast("string")).alias("url")
        ).select(F.xxhash64("url").alias("url_hash"), "url")
        if eng.store.use_index:
            eng.store.index_append(pre)
        if eng.seen_filter is not None:
            eng.seen_filter.add(pre.select("url_hash"))
            eng.seen_filter.compact()
        timings["preseed"] = round(time.monotonic() - t0, 3)

    # ---------------- warm-up -------------------------------------------
    # two rounds: spawn+warm all python workers, JIT the codegen, and
    # reach steady-state frontier mix; then flush writeback so earlier
    # writes can't stall the timed window.
    n_warmup = int(os.environ.get("BENCH_WARMUP", "2"))
    warmup_budget = int(os.environ.get("BENCH_WARMUP_BUDGET", str(max(budget // 3, 1))))
    for w in range(n_warmup):
        t0 = time.monotonic()
        eng.run_round(warmup_budget)
        timings[f"warmup_round_{w + 1}"] = round(time.monotonic() - t0, 3)
    os.sync()

    # ---------------- timed rounds --------------------------------------
    sync_each = os.environ.get("BENCH_SYNC_ROUNDS", "1") == "1"
    fetched = 0
    rounds: list[dict] = []  # {n, wall, rate, full, replaced}
    stage_timings: dict[str, dict] = {}
    t_start = time.monotonic()

    def _timed_round(label: str) -> int:
        r0 = time.monotonic()
        n = eng.run_round()
        stage_timings[label] = dict(eng.last_round_timings)
        if banded:
            stage_timings[label]["bands_read"] = eng.last_bands_read
        if sync_each:
            # flush INSIDE the timed window: each round writes ~GBs of
            # parquet; letting dirty pages pile up produces a single
            # multi-10s kernel writeback stall in a later round (a
            # measured 78 s round among 40 s rounds). Paying the flush
            # per round is the same total work without the cliff.
            os.sync()
        wall = round(time.monotonic() - r0, 3)
        timings[label] = wall
        rounds.append({
            "n": n, "wall": wall,
            "rate": round(n / wall, 1) if wall > 0 else 0.0,
            "full": n == budget, "replaced": False, "label": label,
        })
        return n

    for i in range(timed_rounds):
        n = _timed_round(f"round_{i + 1}")
        fetched += n
        _PARTIAL["urls_fetched"] = fetched
        _PARTIAL["rounds_completed"] = i + 1
        if n == 0:
            break

    # Straggler replacement (r4 verdict #2, scaling.py's leg-retry
    # pattern ported): a round whose wall exceeds STRAGGLER_X x the
    # median wall is a host-jitter artifact (identical work per full
    # round); run a replacement round (same budget, steady-state
    # frontier) and drop the straggler from the headline sample. All
    # rounds stay in the record, flagged.
    straggler_x = float(os.environ.get("BENCH_STRAGGLER_X", "2.0"))
    extras = 0
    while extras < max_extra:
        active = [r_ for r_ in rounds if r_["full"] and not r_["replaced"]]
        if len(active) < 3:
            break
        med_wall = statistics.median([r_["wall"] for r_ in active])
        worst = max(active, key=lambda r_: r_["wall"])
        if worst["wall"] <= straggler_x * med_wall:
            break
        extras += 1
        n = _timed_round(f"retry_round_{extras}")
        fetched += n
        _PARTIAL["urls_fetched"] = fetched
        if n < budget:
            # frontier couldn't serve a full replacement: un-count it
            # as a sample but keep its wall in the total (honest cost)
            rounds[-1]["full"] = False
            break
        worst["replaced"] = True
    total = time.monotonic() - t_start
    urls_per_sec = fetched / total if total > 0 else 0.0
    # Headline = median per-round rate over FULL, non-replaced rounds:
    # identical work per sample, robust to this shared VM's documented
    # jitter. Partial rounds (exhausting corpora at small SF) fall
    # back to all rounds.
    samples = [r_ for r_ in rounds if r_["full"] and not r_["replaced"]]
    if not samples:
        samples = [r_ for r_ in rounds if r_["n"] > 0]
    rates = [r_["rate"] for r_ in samples]
    round_rates = [r_["rate"] for r_ in rounds]
    med = round(statistics.median(rates), 1) if rates else 0.0
    spread = {
        "min": min(rates) if rates else 0.0,
        "max": max(rates) if rates else 0.0,
        "rel": round((max(rates) - min(rates)) / med, 3) if rates and med else 0.0,
        "n_samples": len(rates),
        "replaced_rounds": [r_["label"] for r_ in rounds if r_["replaced"]],
    }

    spark.stop()
    print(json.dumps({
        "metric": "crawl_fetch_extract_merge_total_sec",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "urls_fetched": fetched,
        "urls_per_sec": round(urls_per_sec, 1),
        "round_urls_per_sec": round_rates,
        "urls_per_sec_median_round": med,
        "spread": spread,
        "stage_timings": stage_timings,
        "config": {
            "cpus": cpus, "n_pages": n_pages, "budget": budget,
            "timed_rounds": timed_rounds, "max_extra": max_extra,
            "seen_filter": use_seen,
            "seen_mode": seen_mode, "preseed": preseed,
            "banded": banded, "compact_every": compact_every,
        },
    }))


def run() -> None:
    """Crash-tolerant entry: partial JSON on any exception or SIGTERM.
    Shared by `python bench.py` and bench/run_crawl.py (spark-submit)."""
    signal.signal(signal.SIGTERM, _sigterm)
    try:
        main()
    except BaseException as e:  # noqa: BLE001 — partial record on ANY crash
        _emit_partial(f"{type(e).__name__}: {e}")
        raise


if __name__ == "__main__":
    run()
