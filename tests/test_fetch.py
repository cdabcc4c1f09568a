"""Fetch stage state-machine tests — S10 retry semantics
(telegraph_processor.py:157-256) against stateful transports."""

from __future__ import annotations

from pasta_pipeline_spark.sources.fetch import fetch_links, make_fixture_transport


def FlakyTransport(scripts):
    """Scripted per-URL outcome sequences (last outcome repeats).
    Closure, not a class: cloudpickle ships closures by value, while a
    test-module class would be pickled by reference and fail to import
    on the Spark workers. State lives inside the task — the retry loop
    calls the transport repeatedly within one partition, so scripted
    retries are observable."""
    calls: dict = {}

    def transport(url):
        i = calls.get(url, 0)
        calls[url] = i + 1
        status, body = scripts[url][min(i, len(scripts[url]) - 1)]
        if status == -1:
            raise TimeoutError(url)
        return status, body

    return transport


def _links(spark, urls):
    return spark.createDataFrame([(u,) for u in urls], "telegraph_link string")


def test_server_error_retries_then_succeeds(spark):
    transport = FlakyTransport({"u1": [(500, ""), (500, ""), (200, "<html>ok</html>")]})
    rows = fetch_links(
        _links(spark, ["u1"]), transport, rate_limit_delay=0, parallelism=1
    ).collect()
    assert rows[0]["status"] == "success"
    assert rows[0]["attempts"] == 3
    assert rows[0]["html"] == "<html>ok</html>"


def test_server_error_exhausts_retries(spark):
    transport = FlakyTransport({"u1": [(500, "")]})
    rows = fetch_links(
        _links(spark, ["u1"]), transport, rate_limit_delay=0, parallelism=1
    ).collect()
    assert rows[0]["status"] == "server_error"
    assert rows[0]["attempts"] == 3  # MAX_RETRIES, all consumed


def test_not_found_and_http_error_do_not_retry(spark):
    transport = FlakyTransport({"u404": [(404, "")], "u403": [(403, "")]})
    rows = {
        r["url"]: r
        for r in fetch_links(
            _links(spark, ["u404", "u403"]), transport, rate_limit_delay=0, parallelism=1
        ).collect()
    }
    assert rows["u404"]["status"] == "not_found" and rows["u404"]["attempts"] == 1
    assert rows["u403"]["status"] == "http_error" and rows["u403"]["attempts"] == 1


def test_timeout_retries_then_succeeds(spark):
    transport = FlakyTransport({"u1": [(-1, ""), (200, "body")]})
    rows = fetch_links(
        _links(spark, ["u1"]), transport, rate_limit_delay=0, parallelism=1
    ).collect()
    assert rows[0]["status"] == "success" and rows[0]["attempts"] == 2


def test_oversize_body_capped(spark):
    transport = make_fixture_transport({"u1": (200, "x" * 2_000_000)})
    rows = fetch_links(
        _links(spark, ["u1"]), transport, rate_limit_delay=0, parallelism=1
    ).collect()
    assert rows[0]["status"] == "content_too_large"


def test_building_the_fetch_plan_submits_no_spark_jobs(spark):
    """fetch_links is a lazy builder: on a work list ending in a
    groupBy and ``orderBy().limit()`` (the shape of
    select_unprocessed_links) it submits no job until the caller acts,
    and the fetch spreads over the session's default parallelism."""
    raw = spark.createDataFrame([(f"u{i % 5}",) for i in range(20)], "telegraph_link string")
    todo = raw.groupBy("telegraph_link").count().orderBy("telegraph_link").limit(10)
    sc = spark.sparkContext
    group = "fetch-links-build-probe"
    sc.setJobGroup(group, "fetch_links")
    try:
        fetched = fetch_links(todo, make_fixture_transport({}), rate_limit_delay=0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert fetched.rdd.getNumPartitions() == sc.defaultParallelism
    rows = sorted((r["url"], r["status"]) for r in fetched.collect())
    assert rows == [(f"u{i}", "not_found") for i in range(5)]
