"""Output checks of a finished crawl, per round.

Run after the timed window, outside every timing. Each check is
computed from the engine's committed tables and the generated inputs,
never from the engine's own bookkeeping:

- text: every fetched 200 row's ``fetch_log.text`` equals the page's
  ``pages.text`` byte for byte (and the page exists);
- refetch: no url is fetched again after an answer that was not a 503
  (only a retry may fetch a url twice), and no url takes more 503
  answers than the engine's retry limit;
- robots: no url that the robots fixture disallows is fetched;
- count: each round's fetch_log rows equal the count ``run_round``
  returned for it (its dequeued batch).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from gen import robots_disallowed


def failed_rounds(eng, pages, dequeued: dict[int, int], max_retries: int) -> dict[int, list[str]]:
    """round -> names of the checks it failed (only failing rounds)."""
    fl = eng.fetch_log().select("url", "round", "status", "text")
    p = pages.select(F.col("url").alias("__p_url"), F.col("text").alias("__p_text"))
    by_url = Window.partitionBy("url").orderBy("round")
    before = by_url.rowsBetween(Window.unboundedPreceding, -1)
    rows = (
        fl.join(p, fl["url"] == p["__p_url"], "left")
        .withColumn(
            "__text_bad",
            (F.col("status") == 200)
            & (F.col("__p_url").isNull() | ~F.col("text").eqNullSafe(F.col("__p_text"))),
        )
        .withColumn(
            "__refetch",
            (F.sum((F.col("status") != 503).cast("int")).over(before) > 0)
            | (F.sum((F.col("status") == 503).cast("int")).over(by_url) > max_retries),
        )
        .groupBy("round")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("__text_bad").cast("int")).alias("text"),
            F.sum(F.col("__refetch").cast("int")).alias("refetch"),
            F.sum(robots_disallowed(F.col("url")).cast("int")).alias("robots"),
        )
        .collect()
    )
    seen = {r["round"]: r for r in rows}
    out: dict[int, list[str]] = {}
    for rnd in sorted(set(seen) | set(dequeued)):
        r = seen.get(rnd)
        bad = [c for c in ("text", "refetch", "robots") if r is not None and r[c]]
        if (r["n"] if r is not None else 0) != dequeued.get(rnd, -1):
            bad.append("count")
        if bad:
            out[rnd] = bad
    return out
