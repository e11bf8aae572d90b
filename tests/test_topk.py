"""Parallel exact top-k equivalence: same rows, same ranks as
ORDER BY + LIMIT, for both orderings — and engine trace parity when
the parallel path is forced."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pompspark.frontier import exact_ranked_topk, sort_keys


def _frontier_like(spark, n=5000):
    return spark.range(n).select(
        F.concat(F.lit("u"), F.col("id")).alias("url"),
        (F.col("id") * 37 % 97).cast("double").alias("priority"),
        (F.col("id") % 5).cast("int").alias("depth"),
        F.col("id").alias("seq"),
    )


@pytest.mark.parametrize("ordering", ["bfs", "dfs"])
@pytest.mark.parametrize("k", [1, 100, 4999, 10000])
def test_topk_matches_order_by_limit(spark, ordering, k):
    df = _frontier_like(spark)
    keys = sort_keys(ordering)
    want = [
        (r.url, i)
        for i, r in enumerate(df.orderBy(*keys).limit(k).collect())
    ]
    got = sorted(
        ((r.url, r.fetch_rank) for r in exact_ranked_topk(df, keys, k).collect()),
        key=lambda t: t[1],
    )
    assert got == want


def test_engine_trace_identical_with_parallel_topk(spark, tmp_path, monkeypatch):
    """Forcing the parallel top-k path must not change the trace."""
    import inspect

    from pompspark.engine import simulated_engine
    from pompspark.fixtures import SMALL_SEED, small_pages_df
    import pompspark.frontier as fr

    orig_dequeue, orig_topk = fr.dequeue, fr.exact_ranked_topk
    topk_calls = []

    def counting_topk(*a, **kw):
        topk_calls.append(1)
        return orig_topk(*a, **kw)

    # dequeue_banded (the engine's one dequeue call) reaches both
    # through the frontier module's globals
    monkeypatch.setattr(fr, "exact_ranked_topk", counting_topk)

    def run(threshold):
        eng = simulated_engine(
            spark, str(tmp_path / f"t{threshold}"), small_pages_df(spark),
            ordering="bfs", per_round_budget=3, per_host_budget=2,
        )
        sig = inspect.signature(orig_dequeue)

        def forced(*a, **kw):  # override however the caller passes it
            bound = sig.bind(*a, **kw)
            bound.arguments["parallel_topk_threshold"] = threshold
            return orig_dequeue(*bound.args, **bound.kwargs)

        monkeypatch.setattr(fr, "dequeue", forced)
        eng.seed([SMALL_SEED])
        eng.run(max_rounds=50)
        return [(r.round, r.seq, r.url) for r in eng.trace().collect()]

    parallel = run(threshold=1)
    assert topk_calls, "the parallel top-k never ran: the patch missed"
    n_parallel = len(topk_calls)
    assert parallel == run(threshold=10**9)
    assert len(topk_calls) == n_parallel  # the default path never calls it
