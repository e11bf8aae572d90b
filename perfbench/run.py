#!/usr/bin/env python3
"""Crawl-round benchmark: drives pompspark's CrawlEngine from outside.

    python3 perfbench/run.py --workload steady_crawl --seed 1 --seconds 15 --trace 0

Closed loop: one driver process runs crawl rounds back to back, each
starting when the last returns, at ``local[<nproc>]``. Inputs come
from ``gen.py`` and depend only on ``--seed``. After the timed window
the crawl's outputs are checked (``checks.py``), outside all timings.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the
same protocol with spans around the engine's layers (``spans.py``) and
Spark's event log on, and prints the per-layer metrics (``layers.py``). The last line
of standard output is the result object; the line before it is the
full record (effective config, per-round data, input timings). Spans
and the record are also written under ``.perfbench/results/``. See
README.md for the workloads and the metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time
from dataclasses import asdict, dataclass, replace

T_START = time.monotonic()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench")
DISK_FLOOR_BYTES = 5 << 30
MAX_TIMED_ROUNDS = 24
# build_spark's default heap (48g) let the local-mode JVM grow past
# 15 GB RSS on a 15 GB host and be killed; 2g fits both workloads and
# does not depend on the host's memory
DRIVER_MEMORY = "2g"


@dataclass(frozen=True)
class Workload:
    n_pages: int
    body_repeat: int
    budget: int  # urls per round
    compact_every: int
    max_retries: int
    seen_filter: bool
    backlog: int  # queued rows injected after seed()
    faults: bool
    seen_capacity: int = 100_000  # per shard; bench.py's floor


WORKLOADS = {
    # bench.py's protocol at this host's scale: ~30 KB bodies, retries
    # off, no seen filter, no compaction; fetch/extract and the link
    # merge do the work
    "steady_crawl": Workload(16000, 100, 2000, 0, 0, False, 0, False),
    # ~1 KB bodies behind a backlog 50x the budget, the exact seen
    # filter, compaction every other round, and the retry/redirect
    # fault columns with retries on: dequeue (through the retry fold),
    # the merge anti-join, the seen filter and compaction do the work
    "deep_frontier": Workload(8000, 3, 1000, 2, 3, True, 50_000, True),
}
# --size smoke: every code path of the full size, at ~sf0.001
SMOKE = {k: replace(w, n_pages=600, budget=60, backlog=min(w.backlog, 2000))
         for k, w in WORKLOADS.items()}

END_TO_END = {
    "urls_per_s": "1/s", "round_s_p50": "s", "setup_s": "s",
    "disk_bytes_per_url": "B", "rss_peak_mb": "MB",
}
# end-to-end, but printed only in the record line: with 2-3 timed
# rounds a third is one round, and fail_ratio is 0 on a correct tree
# (the result's failed/attempted is the same ratio)
RECORD_ONLY = {"round_growth": "ratio", "fail_ratio": "ratio"}


# ------------------------------------------------------------------ host
def host_memory_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def _tree_pids(root: int) -> list[int]:
    """``root`` and all its descendants, from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def peak_rss(root: int) -> tuple[int, int, int]:
    """(sum of the peak RSS, VmHWM, of ``root`` and every descendant;
    that of ``root`` alone; number of processes). Each process keeps
    its own high-water mark, so the sum does not depend on when a
    sampler happened to look."""
    total = own = n = 0
    for pid in _tree_pids(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                hwm = next(int(line.split()[1]) * 1024 for line in f
                           if line.startswith("VmHWM:"))
        except (OSError, StopIteration):
            continue
        total += hwm
        own = own or hwm * (pid == root)
        n += 1
    return total, own, n


def dir_size(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    n_bytes = n_files = 0
    for d, _, files in os.walk(path):
        for fn in files:
            with contextlib.suppress(OSError):
                n_bytes += os.path.getsize(os.path.join(d, fn))
                n_files += 1
    return n_bytes, n_files


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


# ------------------------------------------------------------ the crawl
def thirds_ratio(xs: list[float]) -> float:
    """Median of the last third of ``xs`` over that of the first third
    (a third is at least one value)."""
    k = max(1, len(xs) // 3)
    first = statistics.median(xs[:k]) if xs else 0.0
    return statistics.median(xs[-k:]) / first if first > 0 else 1.0


def run(args, w: Workload, work: str) -> dict:
    sys.path.insert(0, ROOT)
    import gen
    from checks import failed_rounds
    from pompspark.session import build_spark

    nproc = len(os.sched_getaffinity(0))
    rec: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                 "size": args.size, "workload_config": asdict(w), "inputs": {}}
    corpus = gen.Corpus(w.n_pages, w.body_repeat, max(10, w.n_pages // 100), w.faults)

    # inputs: pyarrow-only page generation overlaps the JVM's start; the
    # wall the main thread then waits for it is excluded from setup_s
    pages_dir = os.path.join(work, "pages")
    inputs: dict = {}

    def generate() -> None:
        t = time.monotonic()
        inputs["text_mismatches"] = gen.write_pages(pages_dir, args.seed, corpus)
        inputs["seeds"] = gen.seed_urls(args.seed, corpus)
        rec["inputs"]["pages_s"] = time.monotonic() - t

    gen_thread = threading.Thread(target=generate)
    gen_thread.start()
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    # Spark's scratch (shuffle, broadcast, Python temp files) stays in
    # the run's directory instead of /tmp
    scratch = os.path.join(work, "tmp")
    os.makedirs(scratch)
    os.environ["SPARK_LOCAL_DIRS"] = os.environ["TMPDIR"] = tempfile.tempdir = scratch
    extra = {}
    log_dir = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(log_dir)
        extra = {"spark.eventLog.enabled": "true", "spark.eventLog.dir": "file://" + log_dir,
                 "spark.eventLog.compress": "false"}
    t = time.monotonic()
    spark = build_spark(f"local[{nproc}]", app_name="pompspark-perfbench",
                        shuffle_partitions=nproc, extra_conf=extra)
    rec["spark_start_s"] = time.monotonic() - t
    t = time.monotonic()
    gen_thread.join()
    rec["inputs"]["pages_wait_s"] = time.monotonic() - t
    if "seeds" not in inputs:
        stop_spark(spark)
        raise RuntimeError("input generation failed")
    text_mismatches = inputs["text_mismatches"]
    rec["inputs"]["text_sample_mismatches"] = text_mismatches
    tracer = None
    try:
        rec["config"] = effective_config(spark, nproc)
        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark.sparkContext)
        eng, pages, dequeued, error = crawl(args, w, spark, rec, pages_dir,
                                            inputs["seeds"], nproc, work, tracer)
        total, jvm, procs = peak_rss(spark._jvm.java.lang.ProcessHandle.current().pid())
        rec["rss_peak_mb"], rec["rss_peak_jvm_mb"] = total / 1e6, jvm / 1e6
        rec["rss_peak_procs"] = procs

        # output checks, outside all timings
        bad = failed_rounds(eng, pages, dequeued, w.max_retries) if error is None else {}
        for r in rec["rounds"]:
            if r["round"] in bad or "error" in r:
                r["failed"] = bad.get(r["round"], ["error"])
        rec["warmup_failed"] = {k: v for k, v in bad.items() if k <= rec["warmup_rounds"]}
        rec["state_bytes"] = dir_size(eng.cat.root)[0]
        rec["urls_fetched_total"] = eng.urls_fetched_total
        if tracer:
            from layers import collect_round_data

            layer_data = collect_round_data(spark, eng, pages_dir)
    finally:
        stop_spark(spark)

    rounds = [r for r in rec["rounds"] if "error" not in r]
    walls = [r["wall"] for r in rounds]
    fetched = sum(r["n"] for r in rounds)
    failed = sum(1 for r in rec["rounds"] if "failed" in r)
    rec["attempted"], rec["failed"] = max(1, len(rec["rounds"])), failed
    rec["correct"] = (failed == 0 and not rec["warmup_failed"] and error is None
                      and text_mismatches == 0 and fetched > 0)
    rec["full_budget_rounds"] = sum(1 for r in rounds if r["n"] == w.budget)
    values = {
        "urls_per_s": fetched / sum(walls) if walls else 0.0,
        "round_s_p50": statistics.median(walls) if walls else 0.0,
        "setup_s": rec["setup_s"],
        "disk_bytes_per_url": rec["state_bytes"] / max(1, rec["urls_fetched_total"]),
        "rss_peak_mb": rec["rss_peak_mb"],
        "round_growth": thirds_ratio(walls),
        "fail_ratio": failed / rec["attempted"],
    }
    rec["metrics"] = {k: {"value": v, "unit": {**END_TO_END, **RECORD_ONLY}[k]}
                      for k, v in values.items()}
    if tracer:
        from layers import layer_metrics

        rec["layers"], rec["layer_share"], sums_ok = layer_metrics(
            tracer, rounds, layer_data, log_dir)
        rec["span_sums_ok"] = sums_ok
        rec["correct"] = rec["correct"] and sums_ok
        tracer.write(os.path.join(OUT, "results", result_name(args) + ".spans.jsonl"))
    return rec


def effective_config(spark, nproc: int) -> dict:
    conf = spark.sparkContext.getConf()
    return {
        "nproc": nproc, "mem_total_bytes": host_memory_bytes(),
        "master": spark.sparkContext.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": conf.get("spark.driver.memory"),
        "parquet_codec": spark.conf.get("spark.sql.parquet.compression.codec"),
        "parquet_batch_rows": spark.conf.get("spark.sql.parquet.columnarReaderBatchSize"),
        "pyspark": spark.version,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
    }


def crawl(args, w: Workload, spark, rec: dict, pages_dir: str, seeds: list[str],
          nproc: int, work: str, tracer):
    """Set up the engine, warm it up and run the timed window. Returns
    (engine, pages, dequeued count per round, the error that ended the
    window or None); fills rec's timings and rounds."""
    import gen
    from pompspark.benchgen import bench_robots
    from pompspark.engine import simulated_engine

    t = time.monotonic()
    robots = bench_robots(spark).persist()
    robots.count()
    pages = spark.read.parquet(pages_dir)
    rec["inputs"]["robots_s"] = time.monotonic() - t
    inject_s = 0.0
    t_engine = time.monotonic()
    state = os.path.join(work, "state")
    dequeued: dict[int, int] = {}
    rounds: list[dict] = []
    rec["rounds"] = rounds
    error = None
    with tracer.install() if tracer else contextlib.nullcontext():
        eng = simulated_engine(
            spark, state, pages, robots_df=robots, ordering="bfs",
            per_round_budget=w.budget,
            # bench.py's per-host cap, scaled with the budget
            per_host_budget=max(1, w.budget * 5000 // 120000),
            compact_every=w.compact_every, max_retries=w.max_retries,
            use_seen_filter=w.seen_filter, seen_capacity_per_shard=w.seen_capacity,
        )
        eng.seed(seeds)
        rec["engine_s"] = time.monotonic() - t_engine
        if w.backlog:
            t = time.monotonic()
            eng.store.append(gen.backlog_df(spark, w.backlog, nproc))
            inject_s = time.monotonic() - t
            rec["inputs"]["backlog_inject_s"] = inject_s
        t = time.monotonic()
        n = eng.run_round(max(1, w.budget // 3))  # warm-up
        dequeued[eng.round] = n
        os.sync()
        rec["warmup_s"] = time.monotonic() - t
        rec["setup_s"] = (time.monotonic() - T_START) - rec["inputs"]["pages_wait_s"] \
            - rec["inputs"]["robots_s"] - inject_s
        rec["warmup_rounds"] = eng.round
        size0 = dir_size(state) if tracer else None
        cycle = max(1, w.compact_every)
        while True:
            r0 = time.monotonic()
            try:
                n = eng.run_round()
                os.sync()  # the round's files reach disk inside its wall time
            except Exception as e:  # noqa: BLE001 - a failed round is a result
                rounds.append({"round": eng.round + 1, "n": 0,
                               "wall": time.monotonic() - r0, "error": repr(e)})
                error = e
                break
            if n == 0:  # frontier exhausted: the engine did not advance
                break
            rd = {"round": eng.round, "n": n, "wall": time.monotonic() - r0,
                  "stages": dict(eng.last_round_timings)}
            dequeued[eng.round] = n
            if tracer:
                rd["span"] = tracer.spans[-1].sid
                size1 = dir_size(state)
                rd["bytes_written"] = size1[0] - size0[0]
                rd["files_written"] = size1[1] - size0[1]
                size0 = size1
            rounds.append(rd)
            # whole compaction cycles: every window holds the same mix of
            # compacting and plain rounds
            window = sum(r["wall"] for r in rounds)
            if len(rounds) >= MAX_TIMED_ROUNDS or (
                    window >= args.seconds and len(rounds) % cycle == 0):
                break
    return eng, pages, dequeued, error


def result_name(args) -> str:
    return f"{args.workload}-seed{args.seed}-trace{args.trace}-{args.size}"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "pompspark", "engine.py")):
        print(f"perfbench: no pompspark package under {ROOT}", file=sys.stderr)
        return 2
    free = shutil.disk_usage(ROOT).free
    if free < DISK_FLOOR_BYTES:
        print(f"perfbench: {free} bytes free, below the {DISK_FLOOR_BYTES} floor",
              file=sys.stderr)
        return 3
    w = (SMOKE if args.size == "smoke" else WORKLOADS)[args.workload]
    os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
    work = os.path.join(OUT, f"{result_name(args)}-{os.getpid()}")
    try:
        rec = run(args, w, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        from layers import PER_LAYER

        metrics = {k: {"value": rec["layers"][k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: rec["metrics"][k] for k in END_TO_END}
    result = {"correct": rec["correct"], "attempted": rec["attempted"],
              "failed": rec["failed"], "metrics": metrics}
    with open(os.path.join(OUT, "results", result_name(args) + ".json"), "w") as f:
        json.dump({"record": rec, "result": result}, f)
    print(json.dumps(rec, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
