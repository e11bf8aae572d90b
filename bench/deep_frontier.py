#!/usr/bin/env python
"""Deep-frontier COMPOSED-scale bench (r4 verdict #1).

The three 10^10 scale paths — band-pruned dequeue, seen_mode='approx'
(O(batch) merge, no identity index), partition-incremental compaction
— were each benched in isolation in r2-r4. This run composes them in
the configuration a mature 100x deployment would actually use, against
a frontier whose queued backlog is ~10^7 rows (DEEP_BACKLOG synthetic
deep-band rows injected after warm-up, spread over 40 depth bands
behind the live crawl), and records PER-STAGE seconds for every timed
round. The claim under test: round cost is governed by the BATCH
(budget), not the BACKLOG — per-stage walls stay flat as rounds pass
and stay flat vs the no-backlog bench, because
  - dequeue reads only the live band prefix (bands_read recorded),
  - merge never scans the frontier (bloom prefilter, no index),
  - compaction folds the queued partition without rewriting terminal
    files (one O(queued) job per compact_every rounds, the only
    backlog-proportional cost, amortized and bounded).
As a control, the same engine then runs DEEP_COMPARE rounds with the
band pruning switched off (full-scan dequeue over backlog + live), so
the record carries the measured gap on identical state.

Prints ONE JSON line. Env knobs: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS,
DEEP_PAGES, DEEP_BUDGET, DEEP_ROUNDS, DEEP_BACKLOG, DEEP_BANDS,
DEEP_COMPACT_EVERY, DEEP_COMPARE, DEEP_WORKDIR.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_pages = int(os.environ.get("DEEP_PAGES", "400000"))
    budget = int(os.environ.get("DEEP_BUDGET", "20000"))
    timed_rounds = int(os.environ.get("DEEP_ROUNDS", "12"))
    backlog = int(os.environ.get("DEEP_BACKLOG", "10000000"))
    n_bands = int(os.environ.get("DEEP_BANDS", "40"))
    compact_every = int(os.environ.get("DEEP_COMPACT_EVERY", "8"))
    compare_rounds = int(os.environ.get("DEEP_COMPARE", "2"))
    workdir = os.environ.get(
        "DEEP_WORKDIR",
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".deepbench"),
    )

    from pyspark.sql import functions as F

    from pompspark.benchgen import bench_robots, bench_seed_urls, build_bench_pages
    from pompspark.engine import simulated_engine
    from pompspark.frontier import SALT_N
    from pompspark.session import build_spark

    out: dict = {
        "metric": "deep_frontier_composed_round_sec",
        "unit": "sec",
        "config": {
            "cpus": cpus, "n_pages": n_pages, "budget": budget,
            "backlog": backlog, "bands": n_bands,
            "compact_every": compact_every,
            "flags": "banded_dequeue + seen_mode=approx + incremental compaction",
        },
    }

    spark = build_spark(
        f"local[{cpus}]",
        app_name="pompspark-deepbench",
        shuffle_partitions=cpus,
        extra_conf={"spark.sql.files.maxPartitionBytes": "4m"},
    )

    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir, exist_ok=True)
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    t0 = time.monotonic()
    pages_path = os.path.join(workdir, "pages")
    build_bench_pages(spark, docs, n_pages=n_pages).repartition(128).write.mode(
        "overwrite"
    ).parquet(pages_path)
    out["gen_pages_sec"] = round(time.monotonic() - t0, 3)
    pages = spark.read.parquet(pages_path)

    seeds = bench_seed_urls(spark, n_pages, n_hosts=1000, n_seeds=10000)
    robots = bench_robots(spark).persist()
    robots.count()

    eng = simulated_engine(
        spark,
        os.path.join(workdir, "state"),
        pages,
        robots_df=robots,
        ordering="bfs",
        per_round_budget=budget,
        per_host_budget=5000,
        compact_every=compact_every,
        banded_dequeue=True,
        use_seen_filter=True,
        seen_mode="approx",
        seen_shards=32,
        seen_capacity_per_shard=max(100_000, n_pages // 16),
        # r6: compaction overlaps the next round's dequeue+fetch
        # instead of sitting synchronously inside one round (the r5
        # record's 25.3 s spike in a 74.7 s round); DEEP_ASYNC=0 for
        # the synchronous control.
        async_compact=os.environ.get("DEEP_ASYNC", "1") == "1",
    )
    t0 = time.monotonic()
    eng.seed(seeds)
    out["seed_sec"] = round(time.monotonic() - t0, 3)

    # warm-up: spawn workers, JIT codegen, reach steady frontier mix
    for w in range(2):
        t0 = time.monotonic()
        eng.run_round(max(budget // 3, 1))
        out[f"warmup_round_{w + 1}_sec"] = round(time.monotonic() - t0, 3)

    # ---- inject the deep backlog ------------------------------------
    # FRONTIER-shaped queued rows on a disjoint host space, at the
    # live crawl's priority (0.5) but depths [100, 100+n_bands) — far
    # behind the live BFS bands (live depth stays single-digit), so
    # the exact selection never includes them while live work remains,
    # and the banded dequeue proves it by reading only the live
    # prefix. seq is unique and inside the packing contract's range.
    t0 = time.monotonic()
    bl = spark.range(backlog).select(
        F.concat(
            F.lit("http://bl"), (F.col("id") % 20000).cast("string"),
            F.lit(".example/x"), F.col("id").cast("string"),
        ).alias("url"),
        F.col("id").alias("__id"),
    ).select(
        "url",
        F.xxhash64("url").alias("url_hash"),
        F.hash("url").alias("url_murmur3"),
        F.concat(F.lit("bl"), (F.col("__id") % 20000).cast("string"),
                 F.lit(".example")).alias("host"),
        (F.lit(100) + F.col("__id") % n_bands).cast("int").alias("depth"),
        F.lit(0.5).alias("priority"),
        (F.lit(100) + F.col("__id") % n_bands).cast("int").alias("discovered_round"),
        (F.lit(1 << 44).cast("long") + F.col("__id")).alias("seq"),
        F.pmod(F.hash("url"), F.lit(SALT_N)).cast("int").alias("salt"),
        F.lit("queued").alias("state"),
    )
    eng.store.append(bl.repartition(cpus))
    out["inject_backlog_sec"] = round(time.monotonic() - t0, 3)

    # compact once so the backlog lands in the banded layout the
    # pruned dequeue skips (appends since last compaction are always
    # read in full — that is the live-discovery path, not the backlog)
    t0 = time.monotonic()
    eng.store.compact(band_col="depth")
    out["post_inject_compact_sec"] = round(time.monotonic() - t0, 3)
    os.sync()

    # ---- timed composed rounds --------------------------------------
    rounds: list[dict] = []
    for i in range(timed_rounds):
        r0 = time.monotonic()
        n = eng.run_round()
        os.sync()
        wall = round(time.monotonic() - r0, 3)
        rec = {
            "round": i + 1, "n": n, "wall": wall,
            "rate": round(n / wall, 1) if wall else 0.0,
            "bands_read": eng.last_bands_read,
            "stages": {k: round(v, 3) for k, v in eng.last_round_timings.items()},
        }
        rounds.append(rec)
        print(f"# composed round {i+1}: {n} urls in {wall}s "
              f"(bands_read={eng.last_bands_read}) {rec['stages']}",
              file=sys.stderr, flush=True)
        if n == 0:
            break
    out["rounds"] = rounds
    full = [r for r in rounds if r["n"] == budget]
    if full:
        walls = [r["wall"] for r in full]
        nocomp = [r["wall"] - r["stages"].get("compact", 0.0) for r in full]
        out["median_round_sec"] = round(statistics.median(walls), 3)
        out["median_round_sec_excl_compact"] = round(statistics.median(nocomp), 3)
        out["median_round_rate"] = round(statistics.median(
            r["rate"] for r in full), 1)
        # flatness: slope proxy = (median of last 3) / (median of first 3)
        if len(nocomp) >= 6:
            out["late_over_early_wall"] = round(
                statistics.median(nocomp[-3:]) / statistics.median(nocomp[:3]), 3)

    # ---- control: full-scan dequeue on the SAME state ---------------
    eng.banded_dequeue = False
    control: list[dict] = []
    for i in range(compare_rounds):
        r0 = time.monotonic()
        n = eng.run_round()
        os.sync()
        wall = round(time.monotonic() - r0, 3)
        control.append({
            "round": i + 1, "n": n, "wall": wall,
            "stages": {k: round(v, 3) for k, v in eng.last_round_timings.items()},
        })
        print(f"# fullscan round {i+1}: {n} urls in {wall}s "
              f"{control[-1]['stages']}", file=sys.stderr, flush=True)
    out["control_fullscan_rounds"] = control
    if control and full:
        out["fullscan_over_composed_dequeue"] = round(
            statistics.median(c["stages"]["dequeue"] for c in control)
            / statistics.median(r["stages"]["dequeue"] for r in full), 2)

    qn = eng.cat.read("frontier").filter(F.col("state") == "queued").count()
    out["queued_rows_at_end"] = qn
    spark.stop()
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
