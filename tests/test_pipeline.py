"""End-to-end pipeline test (SURVEY.md §5.3): raw scrape artifact →
full batch run → asserted table states, with the canned fetch
transport (FIXTURES.md §A4 — no live HTTP)."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from pasta_pipeline_spark.plans.pipeline import PastaPipeline
from pasta_pipeline_spark.sources.fetch import make_fixture_transport

RUN_TS = datetime(2024, 6, 1, 12, 0, 0)

PAGE = """<html><head><title>T{n} – Telegraph</title>
<meta property="twitter:description" content="desc {n}">
<meta property="article:published_time" content="2024-01-0{n}T00:00:00Z">
</head><body><header class="tl_article_header"><h1>Title {n}</h1></header>
<p>words here {n}</p></body></html>"""

RESPONSES = {
    "https://telegra.ph/A": (200, PAGE.format(n=1)),
    "https://telegra.ph/B": (200, PAGE.format(n=2)),
    "https://telegra.ph/Gone": (404, ""),
    "https://telegra.ph/Flaky": (-1, ""),   # timeout every attempt
    "https://telegra.ph/Huge": (200, "x " * 600_000),  # > 1MB
}


def _raw_messages(spark):
    rows = [
        (1, datetime(2024, 5, 30), "story https://telegra.ph/A #tag", 10, 1),
        (2, datetime(2024, 5, 29), "see https://telegra.ph/B, wow", 5, 0),
        (3, datetime(2024, 5, 28), "dead https://telegra.ph/Gone", 1, 0),
        (4, datetime(2024, 5, 28), "slow https://telegra.ph/Flaky", 1, 0),
        (5, datetime(2024, 5, 27), "big https://telegra.ph/Huge", 1, 0),
        (6, datetime(2024, 1, 1), "too old https://telegra.ph/Old", 0, 0),  # outside lookback
        (7, datetime(2024, 5, 26), "no link here", 0, 0),
    ]
    return spark.createDataFrame(
        rows, "message_id long, date timestamp, text string, views int, forwards int"
    )


def test_batch_run_end_to_end(spark, tmp_table_dir):
    pipe = PastaPipeline(spark, tmp_table_dir)
    transport = make_fixture_transport(RESPONSES)
    report = pipe.run_batch(
        _raw_messages(spark), transport, run_ts=F.lit(RUN_TS), mode="incremental"
    )

    # message 6 dropped by the 7-day lookback (S2)
    msgs = {r["message_id"]: r for r in pipe.messages.read().collect()}
    assert set(msgs) == {1, 2, 3, 4, 5, 7}
    assert msgs[1]["telegraph_link"] == "https://telegra.ph/A"
    assert msgs[1]["hashtags"] == ["tag"]
    assert msgs[2]["telegraph_link"] == "https://telegra.ph/B"  # trailing comma stripped
    assert msgs[7]["telegraph_link"] is None

    content = {r["url"]: r for r in pipe.content.read().collect()}
    a = content["https://telegra.ph/A"]
    assert a["status"] == "success" and a["retry_count"] == 0
    assert a["title"] == "Title 1"
    assert a["description"] == "desc 1"
    assert a["date_published"] == datetime(2024, 1, 1)
    assert a["content_hash"] and a["word_count"] > 0
    assert content["https://telegra.ph/Gone"]["status"] == "not_found"
    assert content["https://telegra.ph/Flaky"]["status"] == "timeout"
    assert content["https://telegra.ph/Huge"]["status"] == "content_too_large"
    assert report["fetch"] == {
        "success": 2,
        "not_found": 1,
        "timeout": 1,
        "content_too_large": 1,
    }


def test_batch_report_is_one_action(spark, tmp_table_dir, monkeypatch):
    """The run report comes from one driver action (the two stats rows
    cross-joined with the fetch-status array) and is the same dict,
    key order included, that three separate collects produced."""
    from pyspark.sql.classic.dataframe import DataFrame

    calls = []
    for name in ("collect", "count"):
        orig = getattr(DataFrame, name)
        monkeypatch.setattr(
            DataFrame, name,
            lambda self, _n=name, _o=orig: (calls.append(_n), _o(self))[1],
        )
    pipe = PastaPipeline(spark, tmp_table_dir)
    report = pipe.run_batch(
        _raw_messages(spark), make_fixture_transport(RESPONSES), run_ts=F.lit(RUN_TS)
    )
    assert calls == ["collect"]
    assert repr(report) == repr({
        "messages": {"total_messages": 6, "unique_messages": 6,
                     "messages_with_links": 5, "duplicate_messages": 0},
        "content": {"total_content": 5, "successful_content": 2,
                    "failed_content": 3, "unique_hashes": 2},
        "fetch": {"success": 2, "content_too_large": 1, "timeout": 1, "not_found": 1},
    })
    # nothing to fetch: the status array is empty, the stats row stays
    quiet = PastaPipeline(spark, f"{tmp_table_dir}/quiet")
    report = quiet.run_batch(
        _raw_messages(spark).where("message_id = 7"),
        make_fixture_transport(RESPONSES),
        run_ts=F.lit(RUN_TS),
    )
    assert report["fetch"] == {} and report["messages"]["total_messages"] == 1
    assert report["content"]["total_content"] == 0


def test_second_run_is_idempotent_and_accumulates_retries(spark, tmp_table_dir):
    pipe = PastaPipeline(spark, tmp_table_dir)
    transport = make_fixture_transport(RESPONSES)
    pipe.run_batch(_raw_messages(spark), transport, run_ts=F.lit(RUN_TS))
    n_msgs_1 = pipe.messages.read().count()

    pipe.run_batch(_raw_messages(spark), transport, run_ts=F.lit(RUN_TS))
    assert pipe.messages.read().count() == n_msgs_1  # PK upsert absorbed the replay

    content = {r["url"]: r for r in pipe.content.read().collect()}
    # successes were not re-fetched (status='success' excluded by J1)
    assert content["https://telegra.ph/A"]["retry_count"] == 0
    # failures were retried and their retry_count accumulated (S9)
    assert content["https://telegra.ph/Flaky"]["retry_count"] == 2
    assert content["https://telegra.ph/Gone"]["retry_count"] == 2


def test_full_mode_has_no_lookback(spark, tmp_table_dir):
    pipe = PastaPipeline(spark, tmp_table_dir)
    transport = make_fixture_transport(RESPONSES)
    pipe.run_batch(
        _raw_messages(spark), transport, run_ts=F.lit(RUN_TS), mode="full"
    )
    assert pipe.messages.read().count() == 7  # message 6 included


def test_maintenance_after_batch(spark, tmp_table_dir):
    pipe = PastaPipeline(spark, tmp_table_dir)
    transport = make_fixture_transport(RESPONSES)
    pipe.run_batch(_raw_messages(spark), transport, run_ts=F.lit(RUN_TS))
    stats = pipe.run_maintenance(retention_days=90, run_ts=F.lit(RUN_TS))
    assert stats["deleted_messages"] == 0  # PK upsert means no dups
    # orphan rewrite nulls links whose fetch never succeeded? No —
    # failed urls DO have content rows (status tracking), so no orphans
    assert stats["cleaned_links"] == 0
    assert pipe.content.read().count() == 5


def test_crawl_frontier_capstone(spark):
    """Discovery-to-workload composition: sitemap parse →
    canonicalization (variants collapse) → robots admission → 
    processed anti-join → per-host budget cap, one lazy plan."""
    from pasta_pipeline_spark.operators.robots import parse_robots_txt
    from pasta_pipeline_spark.plans.frontier import build_frontier

    sitemaps = spark.createDataFrame(
        [
            ("a.com",
             "<urlset>"
             "<url><loc>https://A.COM/keep/1?utm_source=x</loc></url>"
             "<url><loc>https://a.com/keep/1</loc></url>"        # canonical dup
             "<url><loc>https://a.com/keep/2#frag</loc></url>"
             "<url><loc>https://a.com/private/x</loc></url>"     # robots-denied
             "<url><loc>https://a.com/done/1</loc></url>"        # already crawled
             "</urlset>"),
            ("b.com",
             "<urlset>"
             + "".join(f"<url><loc>https://b.com/p/{i}</loc></url>" for i in range(6))
             + "</urlset>"),
        ],
        "host string, sitemap_xml string",
    )
    robots = spark.createDataFrame(
        [("a.com", "User-agent: *\nDisallow: /private/\n")],
        "host string, robots_txt string",
    )
    rules = parse_robots_txt(robots)
    processed = spark.createDataFrame(
        [("https://a.com/done/1",)], "url string"
    )
    out = build_frontier(
        sitemaps, rules, processed, total_budget=6
    ).collect()
    urls = {r["url"] for r in out}
    # canonical dup collapsed to ONE url; fragment stripped
    assert "https://a.com/keep/1" in urls
    assert "https://a.com/keep/2" in urls
    assert not any("utm" in u or "#" in u for u in urls)
    # robots-denied and already-processed urls excluded
    assert not any("/private/" in u for u in urls)
    assert "https://a.com/done/1" not in urls
    # budget: 6 slots over frontier mass {a.com: 2, b.com: 6} →
    # largest-remainder gives a.com 2 (wait: 6*2/8=1.5→1, 6*6/8=4.5→4;
    # remainders equal → leftover to a.com by key) → a:2, b:4
    per_host = {}
    for r in out:
        per_host[r["host"]] = per_host.get(r["host"], 0) + 1
    assert per_host == {"a.com": 2, "b.com": 4}
    assert all(r["budget_rank"] >= 1 for r in out)

    # schedule=True: same frontier, now with executable fetch times —
    # concurrency 1 with a 3s delay staggers each host's queue
    sched = build_frontier(
        sitemaps, rules, processed, total_budget=6,
        schedule=True, crawl_delay_s=3, start_ts_s=1000,
    ).collect()
    assert {r["url"] for r in sched} == urls
    b = sorted((r for r in sched if r["host"] == "b.com"), key=lambda r: r["host_rank"])
    assert [r["fetch_at_s"] for r in b] == [1000, 1003, 1006, 1009]

    # robots Crawl-delay overrides the default per host ('*' fallback)
    from pasta_pipeline_spark.operators.robots import parse_crawl_delays

    delays = parse_crawl_delays(
        spark.createDataFrame(
            [("b.com", "User-agent: *\nCrawl-delay: 10\n")],
            "host string, robots_txt string",
        )
    )
    sched2 = build_frontier(
        sitemaps, rules, processed, total_budget=6,
        schedule=True, crawl_delay_s=3, start_ts_s=0, crawl_delays=delays,
    ).collect()
    b2 = sorted((r for r in sched2 if r["host"] == "b.com"), key=lambda r: r["host_rank"])
    a2 = sorted((r for r in sched2 if r["host"] == "a.com"), key=lambda r: r["host_rank"])
    assert [r["fetch_at_s"] for r in b2] == [0, 10, 20, 30]   # robots delay
    assert [r["fetch_at_s"] for r in a2] == [0, 3]            # default delay
