"""M1 end-to-end: fixture crawl — byte-identical text, politeness cap,
deterministic ordering, seen-set exactness (SURVEY.md §5.2/5.4)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from tripwire_spark.sources.synth import (
    BLACKLIST_PATTERNS,
    synth_pages,
    synth_robots,
    synth_seeds,
)

N_HOSTS, N_PAGES, N_LINKS = 12, 4, 3


def _assert_admit_oracle(state):
    """First-principles seen set: every candidate url of a round joins
    the frontier exactly once, in the first round it was a candidate,
    unless it already was a seed."""
    fr = state.frontier.select("url", "round_added").collect()
    assert len(fr) == len({r.url for r in fr})
    seeds = {r.url for r in fr if r.round_added == 0}
    first: dict[str, int] = {}
    cands = state.decision_log.filter("round > 0 AND decision = 'candidate'")
    for r in cands.select("round", "curl").collect():
        first[r.curl] = min(r["round"], first.get(r.curl, r["round"]))
    want = {u: rd for u, rd in first.items() if u not in seeds}
    assert want, "fixture crawl admitted nothing"
    assert {r.url: r.round_added for r in fr if r.round_added > 0} == want


@pytest.fixture(scope="module")
def fixture_tables(spark):
    pages = synth_pages(spark, N_HOSTS, N_PAGES, N_LINKS).persist()
    seeds = synth_seeds(spark, n_seeds=8, n_dup=2, n_blacklisted=2).persist()
    robots = synth_robots(spark, N_HOSTS).persist()
    pages.count(), seeds.count(), robots.count()
    return pages, seeds, robots


def test_text_extraction_byte_identical(spark, fixture_tables):
    """Engine text (HTMLParser path) == generator text (SQL-expr path),
    byte for byte, for every page (pageUtils.js:58-61 invariant)."""
    from tripwire_spark.functions.html import extract_text

    pages, _, _ = fixture_tables
    mismatch = (
        pages.withColumn("etext", extract_text("html"))
        .filter((F.col("etext") != F.col("text")) | F.col("etext").isNull())
    )
    rows = mismatch.select("url", "text", "etext").collect()
    assert rows == [], f"text mismatch on {len(rows)} pages, e.g. {rows[:2]}"


def test_build_frontier_dedup_blacklist(spark, fixture_tables):
    from tripwire_spark.operators.frontier import build_frontier

    _, seeds, _ = fixture_tables
    fr = build_frontier(seeds, BLACKLIST_PATTERNS)
    rows = {r.url: r for r in fr.collect()}
    # 8 unique seeds; dups (uppercase variants of 0,1) collapsed; google blacklisted.
    assert len(rows) == 8
    assert "http://site0000.test/p0" in rows
    assert all("google" not in u for u in rows)
    # dedup kept the FIRST file_order (qid = file_order of first occurrence)
    assert rows["http://site0000.test/p0"].qid == 0


def test_crawl_end_to_end(spark, fixture_tables, tmp_path):
    from tripwire_spark.operators.crawl import run_crawl

    pages, seeds, robots = fixture_tables
    state = run_crawl(
        spark, seeds, pages, robots, BLACKLIST_PATTERNS, max_rounds=3, default_budget=2
    )
    frontier = state.frontier.persist()

    # 1. Seen-set exactness: one frontier row per canonical URL, ever.
    n = frontier.count()
    assert n == frontier.select("url").distinct().count()
    assert n == frontier.select("url_hash").distinct().count()

    # 2. Politeness: per (host, round) completed+failed fetches <= budget.
    per_round = (
        state.fetch_log.groupBy("host", "round")
        .agg(F.count("*").alias("n"))
        .join(robots, "host", "left")
        .withColumn("budget", F.coalesce("crawl_budget", F.lit(2)))
        .filter(F.col("n") > F.col("budget"))
    )
    assert per_round.count() == 0

    # 3. Robots: disallowed prefixes never fetched; seed rows for /p0 on
    # hosts h%4==0 end disabled.
    fetched_urls = [r.url for r in state.fetch_log.collect()]
    assert "http://site0000.test/p0" not in fetched_urls
    assert "http://site0004.test/p0" not in fetched_urls
    dis = {r.url for r in frontier.filter(F.col("status") == "disabled").collect()}
    assert "http://site0000.test/p0" in dis

    # 4. Byte-identical text on every fetched page.
    joined = state.results.alias("r").join(
        pages.select(F.col("url"), F.col("text").alias("expected")), "url"
    )
    bad = joined.filter(F.col("text") != F.col("expected")).count()
    assert bad == 0 and state.results.count() > 0

    # 5. Crawl-order replay: round-1 claims are the per-host FIFO prefix
    # by qid under the budget — verify against an independently computed
    # golden order.
    r1 = sorted(
        [(r.host, r.qid) for r in state.fetch_log.filter(F.col("round") == 1).collect()]
    )
    golden = sorted(
        [
            (f"site{s:04d}.test", s)
            for s in range(8)
            if s % 4 != 0  # robots-disabled hosts (h%4==0 disallow /p0)
        ]
    )
    assert r1 == golden

    # 6. Discovered URLs exist; qid = the full 64-bit url_hash (unique
    #    among discoveries by seen-set construction), and the frontier's
    #    compound key (qid, round_added) is unique overall.
    disc = frontier.filter(F.col("round_added") >= 1)
    assert disc.count() > 0
    assert disc.filter(F.col("qid") != F.col("url_hash")).count() == 0
    assert frontier.count() == frontier.select("qid", "round_added").distinct().count()
    frontier.unpersist()


def test_crawl_metrics_table(spark, fixture_tables):
    """S4/A8: per-round metrics derived from the logs — fetch counts
    split by outcome, candidate/skip decision counts."""
    from tripwire_spark.operators.crawl import crawl_metrics, run_crawl

    pages, seeds, robots = fixture_tables
    state = run_crawl(spark, seeds, pages, robots, BLACKLIST_PATTERNS, max_rounds=2, default_budget=2)
    m = {r["round"]: r for r in crawl_metrics(state).collect()}
    assert m[1]["n_fetches"] == m[1]["n_found"] + m[1]["n_missed"]
    assert m[1]["n_found"] > 0 and m[1]["n_candidates"] > 0


def test_backpressure_halves_budget_on_misses(spark, fixture_tables):
    """T8: a round fetching mostly misses caps the next round's claim
    budget (the bad-proxy gate analog, run_queue_nowrap:219-231)."""
    from tripwire_spark.operators.crawl import run_crawl

    pages, seeds, robots = fixture_tables
    # pages table withholding /p0 urls: every seed fetch misses round 1
    no_seed_pages = pages.filter(~F.col("url").endswith("/p0"))
    state = run_crawl(
        spark, seeds, no_seed_pages, None, BLACKLIST_PATTERNS,
        max_rounds=2, default_budget=2, backpressure=True,
    )
    assert state.metrics[0]["miss_rate"] == 1.0
    assert state.metrics[0]["budget_cap_next"] == 1
    # and a healthy crawl never throttles
    ok = run_crawl(
        spark, seeds, pages, None, BLACKLIST_PATTERNS,
        max_rounds=2, default_budget=2, backpressure=True,
    )
    assert all(mm["budget_cap_next"] is None for mm in ok.metrics)


def test_crawl_deterministic_across_runs(spark, fixture_tables):
    """Same input -> identical frontier (qid,url,status) on a re-run."""
    from tripwire_spark.operators.crawl import run_crawl

    pages, seeds, robots = fixture_tables
    a = run_crawl(spark, seeds, pages, robots, BLACKLIST_PATTERNS, max_rounds=2, default_budget=2)
    b = run_crawl(spark, seeds, pages, robots, BLACKLIST_PATTERNS, max_rounds=2, default_budget=2)
    rows_a = sorted(map(tuple, a.frontier.select("qid", "url", "status", "try").collect()))
    rows_b = sorted(map(tuple, b.frontier.select("qid", "url", "status", "try").collect()))
    assert rows_a == rows_b


def test_crawl_fetch_join_strategies_identical(spark, fixture_tables):
    """fetch_join='shuffle_hash' (the past-10^8-claimed switchover) must
    produce the exact broadcast frontier — the flag trades plan shape,
    never results — and every run's frontier matches the admit oracle."""
    from tripwire_spark.operators.crawl import run_crawl

    pages, seeds, robots = fixture_tables

    def rows(**kw):
        st = run_crawl(
            spark, seeds, pages, robots, BLACKLIST_PATTERNS,
            max_rounds=2, default_budget=2, **kw,
        )
        out = sorted(map(tuple, st.frontier.select("qid", "url", "status", "try").collect()))
        _assert_admit_oracle(st)
        st.release()
        return out

    base = rows()
    assert rows(fetch_join="shuffle_hash") == base
    # fetch_join='auto' re-resolves per ROUND from the prior round's
    # claimed count: threshold=1 flips to shuffle_hash from round 2 on
    # (round 1 of a fresh crawl has no prior count and broadcasts)
    assert rows(fetch_join="auto", fetch_join_threshold=1) == base
    assert rows(fetch_join="auto") == base  # stays broadcast at this scale


def test_resume_from_checkpoint(spark, fixture_tables, tmp_path):
    """Kill after round 1, resume, final state == uninterrupted run."""
    from tripwire_spark.operators.crawl import run_crawl

    pages, seeds, robots = fixture_tables
    ck = str(tmp_path / "ck")
    full = run_crawl(
        spark, seeds, pages, robots, BLACKLIST_PATTERNS, max_rounds=2, default_budget=2
    )
    # interrupted: only round 1 committed...
    run_crawl(
        spark, seeds, pages, robots, BLACKLIST_PATTERNS,
        max_rounds=1, default_budget=2, checkpoint_dir=ck,
    )
    # ...then resume to round 2.
    resumed = run_crawl(
        spark, seeds, pages, robots, BLACKLIST_PATTERNS,
        max_rounds=2, default_budget=2, checkpoint_dir=ck, resume=True,
    )
    rows_full = sorted(map(tuple, full.frontier.select("qid", "url", "status", "try").collect()))
    rows_res = sorted(map(tuple, resumed.frontier.select("qid", "url", "status", "try").collect()))
    assert rows_full == rows_res


def test_checkpoint_with_track_clicked_off(spark, fixture_tables, tmp_path):
    """Regression: checkpoint_dir + track_clicked=False must not crash on
    the clicked-table commit (the state is None by design)."""
    from tripwire_spark.operators.crawl import run_crawl

    pages, seeds, robots = fixture_tables
    state = run_crawl(
        spark, seeds, pages, robots, BLACKLIST_PATTERNS,
        max_rounds=2, default_budget=2,
        checkpoint_dir=str(tmp_path / "ck_nc"), track_clicked=False,
    )
    assert state.frontier.count() > 0 and state.rounds_run == 2


def test_long_crawl_bounded_lineage(spark):
    """A 20-round no-checkpoint crawl completes without plan blowup: the
    seen segments, clicked state, and log DAGs are compacted/pinned every
    ``compact_every`` rounds, so max_rounds is unbounded by design.

    Fixture: 2 hosts, each a 25-page chain (p_i links only to p_{i+1}
    with a distinct anchor text) — one discovery per host per round, so
    the frontier stays alive through all 20 rounds."""
    from tripwire_spark.operators.crawl import run_crawl

    n_pages, n_hosts = 25, 2
    ids = spark.range(n_hosts * n_pages)
    h = (F.col("id") / n_pages).cast("long")
    p = F.pmod(F.col("id"), F.lit(n_pages))
    pages = ids.select(
        F.format_string("http://site%04d.test/p%d", h, p).alias("url"),
        F.timestamp_seconds(F.lit(1451606400) + F.col("id")).alias("warc_ts"),
        F.concat(
            F.format_string("<html><head><title>s%d p%d</title></head><body>", h, p),
            F.format_string(
                '<a href="http://site%04d.test/p%d">next page %d</a>', h, p + 1, p + 1
            ),
            F.lit("</body></html>"),
        ).cast("binary").alias("html"),
        F.lit("en").alias("lang"),
    ).persist()
    seeds = spark.range(n_hosts).select(
        (F.col("id") + 1).cast("int").alias("alexa"),
        F.format_string("site%04d.test/p0", F.col("id")).alias("url"),
        F.col("id").alias("file_order"),
    )
    state = run_crawl(
        spark, seeds, pages, None, BLACKLIST_PATTERNS,
        max_rounds=20, default_budget=1, compact_every=4,
    )
    assert state.rounds_run == 20
    n = state.frontier.count()
    assert n == state.frontier.select("url_hash").distinct().count()
    # every round really fetched something (the frontier never drained)
    assert state.fetch_log.select("round").distinct().count() == 20
    # chain crawl: round r fetched exactly p_{r-1} of each host
    assert state.fetch_log.count() == 20 * n_hosts
    state.release()
    pages.unpersist()


def test_url_trap_detection_and_filter(spark):
    """A calendar-shape explosion on one host is flagged and trimmed to
    `keep` URLs; distinct-shape pages and other hosts pass untouched."""
    import pyspark.sql.functions as F

    from tripwire_spark.operators.frontier import detect_url_traps, filter_url_traps

    trap = spark.range(300).select(
        F.format_string("http://a.test/cal/2026/%d?session=%d", "id", "id").alias("url")
    )
    ok = spark.createDataFrame(
        [("http://a.test/about",), ("http://a.test/contact",), ("http://b.test/cal/2026/1?session=9",)],
        "url string",
    )
    urls = trap.unionByName(ok)

    shapes = {(r.host, r.shape): r for r in detect_url_traps(urls, limit=100).collect()}
    assert shapes[("a.test", "/cal/N/N?session")].is_trap
    assert shapes[("a.test", "/cal/N/N?session")].n_urls == 300
    assert not shapes[("b.test", "/cal/N/N?session")].is_trap  # same shape, other host
    assert not shapes[("a.test", "/about?")].is_trap

    kept = filter_url_traps(urls, limit=100, keep=5).collect()
    by_host = {}
    for r in kept:
        by_host.setdefault(r.url.split("/")[2], []).append(r.url)
    assert len([u for u in by_host["a.test"] if "/cal/" in u]) == 5  # trimmed
    assert "http://a.test/about" in by_host["a.test"]  # untouched
    assert by_host["b.test"] == ["http://b.test/cal/2026/1?session=9"]

    # deterministic across partitionings (keep = first K by url asc)
    a = sorted(r.url for r in filter_url_traps(urls.repartition(1), limit=100, keep=5).collect())
    b = sorted(r.url for r in filter_url_traps(urls.repartition(13), limit=100, keep=5).collect())
    assert a == b


def test_crawl_trap_limit_caps_shape_explosions(spark):
    """run_crawl(trap_limit=...) keeps a per-(host, shape) explosion out
    of the frontier: discoveries of one shape are capped at trap_keep
    while the default run admits them all."""
    from tripwire_spark.operators.crawl import run_crawl
    from tripwire_spark.sources.synth import BLACKLIST_PATTERNS, synth_pages

    import pyspark.sql.functions as F

    n_hosts = 6
    pages = synth_pages(spark, n_hosts=n_hosts, n_pages=4, n_links=12, n_words=60)
    seeds = spark.range(n_hosts).select(
        (F.col("id") + 1).cast("int").alias("alexa"),
        F.format_string("site%04d.test/p1", F.col("id")).alias("url"),
        F.col("id").alias("file_order"),
    )
    base = run_crawl(spark, seeds, pages, None, BLACKLIST_PATTERNS,
                     max_rounds=1, default_budget=6)
    capped = run_crawl(spark, seeds, pages, None, BLACKLIST_PATTERNS,
                       max_rounds=1, default_budget=6, trap_limit=3)
    n_base, n_capped = base.frontier.count(), capped.frontier.count()
    assert n_capped < n_base  # synth link shapes repeat per host -> trimmed
    # every admitted row is still a valid frontier row
    assert capped.frontier.filter("url IS NULL OR host IS NULL").count() == 0
    base.release()
    capped.release()


def test_recrawl_schedule_estimator_and_plan(spark):
    from tripwire_spark.operators.frontier import recrawl_schedule

    # u1: 4 captures, digest changes on every interval (rate 1.0), last
    # seen at t=30.  u2: 3 captures, 1 change in 2 intervals (rate .5),
    # last seen at t=50 (the global "now" -> staleness 0).  u3: single
    # capture -> rate 0.
    s = 1_000_000  # one second of microseconds
    rows = [
        ("u1", 0, "a"), ("u1", 10 * s, "b"), ("u1", 20 * s, "c"), ("u1", 30 * s, "d"),
        ("u2", 0, "x"), ("u2", 25 * s, "x"), ("u2", 50 * s, "y"),
        ("u3", 40 * s, "z"),
    ]
    cap = spark.createDataFrame(rows, "url string, ts_us long, digest string")
    out = {r.url: r for r in recrawl_schedule(cap).collect()}
    assert (out["u1"].n_changes, out["u1"].change_rate6) == (3, 1_000_000)
    # priority = rate6 x staleness-in-SECONDS (micros would overflow
    # int64 after ~107 days for a rate-1.0 url)
    assert out["u1"].staleness_us == 20 * s and out["u1"].priority == 20 * 1_000_000
    assert (out["u2"].n_changes, out["u2"].change_rate6) == (1, 500_000)
    assert out["u2"].staleness_us == 0 and out["u2"].priority == 0
    assert out["u3"].change_rate6 == 0 and out["u3"].priority == 0

    # scale shape: the lag window and the per-url aggregate share ONE
    # url-keyed exchange; "now" joins as a broadcast
    plan = recrawl_schedule(cap)._jdf.queryExecution().executedPlan().toString()
    import re
    url_exchanges = len(re.findall(r"Exchange hashpartitioning\(url", plan))
    assert url_exchanges == 1, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan


def test_checkpoint_bucketed_admit_matches_in_memory(spark, fixture_tables, tmp_path):
    """VERDICT r4 ask #2 end-to-end: a checkpointed crawl whose admit
    reads the BUCKETED seen-sketch base (with round deltas riding the
    candidate side) lands on the exact frontier of the in-memory crawl
    (unioned state, no deltas) — with compact_every=2 so both a
    delta-on-base round AND a post-compaction round are exercised — and
    both match the admit oracle."""
    from tripwire_spark.operators.crawl import run_crawl

    pages, seeds, robots = fixture_tables
    ref = run_crawl(
        spark, seeds, pages, robots, BLACKLIST_PATTERNS,
        max_rounds=3, default_budget=2,
    )
    ck = run_crawl(
        spark, seeds, pages, robots, BLACKLIST_PATTERNS,
        max_rounds=3, default_budget=2,
        checkpoint_dir=str(tmp_path / "ck_bk"), compact_every=2,
    )
    a = sorted(map(tuple, ref.frontier.select("qid", "url", "status", "try").collect()))
    b = sorted(map(tuple, ck.frontier.select("qid", "url", "status", "try").collect()))
    assert a == b
    _assert_admit_oracle(ref)
    _assert_admit_oracle(ck)
    ref.release()


def test_resume_rejects_geometry_mismatch(spark, fixture_tables, tmp_path):
    """ADVICE r4 #2: resuming a checkpoint under a different seen-state
    bloom geometry fails fast instead of writing mixed-geometry deltas."""
    from tripwire_spark.operators.crawl import run_crawl

    pages, seeds, robots = fixture_tables
    ck = str(tmp_path / "ck_geo")
    run_crawl(
        spark, seeds, pages, robots, BLACKLIST_PATTERNS,
        max_rounds=1, default_budget=2, checkpoint_dir=ck, bloom_buckets=8,
    )
    with pytest.raises(ValueError, match="geometry"):
        run_crawl(
            spark, seeds, pages, robots, BLACKLIST_PATTERNS,
            max_rounds=2, default_budget=2, checkpoint_dir=ck, resume=True,
            bloom_buckets=16,  # different m_bits per bucket
        )


def test_resume_fetch_auto_uses_last_claimed_count(
    spark, fixture_tables, tmp_path, capsys, monkeypatch
):
    """On resume, fetch_join='auto' reads the last committed
    round's claimed count, so a claim set over the threshold takes the
    shuffled hash join in the FIRST resumed round instead of always
    broadcasting it."""
    from tripwire_spark.operators.crawl import run_crawl

    pages, seeds, robots = fixture_tables
    ck = str(tmp_path / "ck_auto")
    kw = dict(default_budget=2, checkpoint_dir=ck, fetch_join="auto", fetch_join_threshold=1)
    run_crawl(spark, seeds, pages, robots, BLACKLIST_PATTERNS, max_rounds=1, **kw)
    monkeypatch.setenv("TRIPWIRE_CRAWL_EXPLAIN", "1")
    capsys.readouterr()
    st = run_crawl(spark, seeds, pages, robots, BLACKLIST_PATTERNS, max_rounds=2, resume=True, **kw)
    assert st.rounds_run == 2
    out = capsys.readouterr().out
    assert "==== round 1 parsed plan ====" not in out
    plan = out.split("==== round 2 parsed plan ====", 1)[1].split("====", 1)[0]
    # the fetch join is the plan's one Inner join (robots join LeftOuter)
    assert "ShuffledHashJoin Inner" in plan and "BroadcastHashJoin Inner" not in plan, plan


def test_validate_url_hash_contract(spark, fixture_tables):
    """ADVICE r4 #3: a pages table whose stored url_hash was computed
    with a different hash must FAIL FAST under validate_url_hash=True
    (silently dropped fetches otherwise), and a correctly-stored column
    passes."""
    from tripwire_spark.operators.crawl import run_crawl

    pages, seeds, robots = fixture_tables
    good = pages.withColumn("url_hash", F.xxhash64(F.col("url")))
    st = run_crawl(
        spark, seeds, good, robots, BLACKLIST_PATTERNS,
        max_rounds=1, default_budget=2, validate_url_hash=True,
    )
    assert st.frontier.count() > 0
    bad = pages.withColumn("url_hash", F.xxhash64(F.col("url"), F.lit(7)))
    with pytest.raises(ValueError, match="url_hash"):
        run_crawl(
            spark, seeds, bad, robots, BLACKLIST_PATTERNS,
            max_rounds=1, default_budget=2, validate_url_hash=True,
        )


def test_validate_url_hash_checks_every_partition(spark, fixture_tables):
    """The url_hash check covers the whole table, not a
    prefix of the first partition read — a mis-hashed row behind 1000
    correct ones in another partition still fails fast."""
    from tripwire_spark.operators.crawl import run_crawl

    pages, seeds, robots = fixture_tables
    # parallelize slices in order: rows 0..999 (correct) land in the
    # first partition, rows 1000..1999 (mis-hashed) in the second
    rows = [(f"http://ok{i}.test/p0", i >= 1000) for i in range(2000)]
    two = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 2), "url string, bad boolean"
    ).select(
        "url",
        F.when(F.col("bad"), F.xxhash64("url", F.lit(7)))
        .otherwise(F.xxhash64("url")).alias("url_hash"),
    )
    assert two.rdd.getNumPartitions() == 2
    with pytest.raises(ValueError, match="url_hash"):
        run_crawl(
            spark, seeds, two, robots, BLACKLIST_PATTERNS,
            max_rounds=1, default_budget=2, validate_url_hash=True,
        )


def test_fetch_auto_adds_no_driver_actions(spark, fixture_tables):
    """VERDICT r4 ask #4 'Done' criterion: a crawl at fetch_join='auto'
    runs the same driver-job count as fetch_join='broadcast' (the old
    auto path spent a dedicated claimed.count() job per round — +2 jobs
    at 2 rounds, well outside the ±1 AQE broadcast-job jitter this
    asserts within)."""
    from tripwire_spark.operators.crawl import run_crawl

    pages, seeds, robots = fixture_tables
    sc = spark.sparkContext

    def count_jobs(tag, **kw):
        sc.setJobGroup(tag, tag)
        st = run_crawl(
            spark, seeds, pages, robots, BLACKLIST_PATTERNS,
            max_rounds=2, default_budget=2, **kw,
        )
        st.frontier.count()
        st.release()
        ids = sc.statusTracker().getJobIdsForGroup(tag)
        sc.setJobGroup("jobcount-other", "other")
        return len(ids)

    a = count_jobs("jobcount-auto", fetch_join="auto")
    b = count_jobs("jobcount-bcast", fetch_join="broadcast")
    assert abs(a - b) <= 1, (a, b)
