"""Correctness checks run on every benchmark run.

Each check returns the number of offending rows; any non-zero count
fails the run.  They read the crawl's own outputs and the generated
inputs, never the engine's internals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tripwire_spark.operators.frontier import RETRY_MAX, ST_FAILED, ST_QUEUED


def frontier_stats(frontier: DataFrame) -> tuple[int, str]:
    """(rows with a repeated url, order-independent digest of the
    frontier's key, url, status and try) in one job."""
    r = frontier.agg(
        F.count("*"),
        F.count_distinct("url"),
        F.sum(F.xxhash64("qid", "round_added", "url", "status", "try").cast("decimal(38,0)")),
    ).first()
    return r[0] - r[1], f"{r[0]}:{r[2]}"


def check_crawl(state, pages: DataFrame, robots: DataFrame, default_budget: int,
                found: int, duplicate_urls: int) -> dict[str, int]:
    """``found`` (fetch-log hits) and ``duplicate_urls`` come from the
    caller, which counts them for every crawl anyway."""
    fl, fr = state.fetch_log, state.frontier
    out: dict[str, int] = {}

    # The extracted text of every fetched page is byte-identical to the
    # generator's independently built text, and each fetched page has
    # exactly one result row.
    expected = pages.select("url", F.col("text").alias("expected"))
    out["text_mismatch"] = (
        state.results.join(expected, "url", "left")
        .filter(~F.col("text").eqNullSafe(F.col("expected")))
        .count()
    )
    out["results_vs_hits"] = abs(state.results.count() - found)

    # No url appears twice in the frontier.
    out["duplicate_urls"] = duplicate_urls

    # Claims per (host, round) stay at or under the robots budget.
    budgets = F.broadcast(robots.select("host", "crawl_budget"))
    out["over_budget"] = (
        fl.groupBy("host", "round").count()
        .join(budgets, "host", "left")
        .filter(F.col("count") > F.coalesce("crawl_budget", F.lit(default_budget)))
        .count()
    )

    # A fetch hits exactly when the url is in pages: every dangling-link
    # fetch is logged as a miss, and no real page is.
    exists = pages.select("url", F.lit(True).alias("exists"))
    out["wrong_outcome"] = (
        fl.join(exists, "url", "left")
        .filter(F.col("found") != F.coalesce("exists", F.lit(False)))
        .count()
    )

    # Every missed row is settled: requeued with its try bumped, or failed.
    misses = fl.filter(~F.col("found")).select("qid", "round_added").distinct()
    settled = (
        ((F.col("status") == ST_QUEUED) & (F.col("try") >= 1) & (F.col("try") <= RETRY_MAX))
        | (F.col("status") == ST_FAILED)
    )
    out["unsettled_misses"] = (
        misses.join(fr, ["qid", "round_added"], "left")
        .filter(F.col("status").isNull() | ~settled)
        .count()
    )
    return out
