"""W1/W2 dedup direction + exemption, anti-join semantics, and the
maintenance composite (SURVEY.md §5.2/§5.3)."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from pasta_pipeline_spark.functions.timestamps import age_predicate
from pasta_pipeline_spark.operators.antijoin import null_out_orphans, select_unprocessed_links
from pasta_pipeline_spark.operators.dedup import dedup_content, keep_first, keep_latest
from pasta_pipeline_spark.operators.maintenance import FAILED_STATUSES, run_full_cleanup
from pasta_pipeline_spark.operators.stats import cleanup_summary

T1, T2, T3 = datetime(2024, 1, 1), datetime(2024, 2, 1), datetime(2024, 3, 1)


def test_keep_latest_direction(spark):
    df = spark.createDataFrame(
        [(1, "a", T1), (1, "b", T2), (2, "c", T1)], "k long, v string, ts timestamp"
    )
    got = sorted((r["k"], r["v"]) for r in keep_latest(df, "k", "ts").collect())
    assert got == [(1, "b"), (2, "c")]


def test_keep_first_direction_and_tiebreak(spark):
    df = spark.createDataFrame(
        [(1, "a", T1), (1, "b", T1), (1, "c", T2)], "k long, v string, ts timestamp"
    )
    # tie on ts resolves by the tiebreak column ascending — deterministic
    got = keep_first(df, "k", "ts", tiebreak="v").collect()
    assert [(r["k"], r["v"]) for r in got] == [(1, "a")]


def test_content_dedup_exempts_null_and_empty_hash(spark):
    """duplicate_remover.py:82-83 — hashless rows all survive."""
    df = spark.createDataFrame(
        [
            ("u1", "h", T1),
            ("u2", "h", T2),      # dup of u1, newer → dropped
            ("u3", None, T1),
            ("u4", None, T2),     # both null-hash rows survive
            ("u5", "", T1),
            ("u6", "", T2),       # both empty-hash rows survive
        ],
        "url string, content_hash string, processed_at timestamp",
    )
    got = sorted(r["url"] for r in dedup_content(df).collect())
    assert got == ["u1", "u3", "u4", "u5", "u6"]


def test_select_unprocessed_links_j1(spark):
    """J1: distinct + success-filter + anti-join + clean + validate +
    limit (telegraph_processor.py:81-91)."""
    messages = spark.createDataFrame(
        [
            (1, "https://telegra.ph/A"),
            (2, "https://telegra.ph/A"),          # duplicate → distinct
            (3, "{https://telegra.ph/B}"),        # braces cleaned
            (4, "https://telegra.ph/C"),          # already crawled OK
            (5, "https://telegra.ph/D"),          # crawled but failed → retry
            (6, "https://evil.example.com/X"),    # invalid → dropped
            (7, None),
            (8, ""),
        ],
        "message_id long, telegraph_link string",
    )
    content = spark.createDataFrame(
        [("https://telegra.ph/C", "success"), ("https://telegra.ph/D", "timeout")],
        "url string, status string",
    )
    got = sorted(
        r["telegraph_link"]
        for r in select_unprocessed_links(messages, content, limit=10).collect()
    )
    assert got == [
        "https://telegra.ph/A",
        "https://telegra.ph/B",
        "https://telegra.ph/D",
    ]


def test_null_out_orphans_j3(spark):
    messages = spark.createDataFrame(
        [(1, "u1"), (2, "u-gone"), (3, None)], "message_id long, telegraph_link string"
    )
    content = spark.createDataFrame([("u1",)], "url string")
    rows = {
        r["message_id"]: r["telegraph_link"]
        for r in null_out_orphans(messages, content).collect()
    }
    assert rows == {1: "u1", 2: None, 3: None}


def test_full_cleanup_composite(spark):
    """Lifecycle §3.2 — one pass with every cleanup triggering."""
    from pasta_pipeline_spark.operators.maintenance import run_full_cleanup

    now = F.lit(datetime(2024, 6, 1))
    messages = spark.createDataFrame(
        [
            (1, datetime(2024, 5, 20), "u1", T1),
            (1, datetime(2024, 5, 20), "u1", T2),      # W1 dup — keep latest
            (2, datetime(2023, 1, 1), None, T1),       # retention: too old
            (3, datetime(2024, 5, 25), "u-gone", T1),  # orphan link
        ],
        "message_id long, date timestamp, telegraph_link string, processed_at timestamp",
    )
    content = spark.createDataFrame(
        [
            ("u1", "h1", "success", 0, T2, T2),
            ("u1b", "h1", "success", 0, T3, T3),   # W2 dup (same hash, newer) — dropped
            ("u2", "h2", "timeout", 5, T1, T1),    # failed, exhausted, stale — dropped
            ("u3", "h3", "error", 1, datetime(2023, 1, 1), T3),  # old + not success — dropped
        ],
        "url string, content_hash string, status string, retry_count int, "
        "processed_at timestamp, last_checked timestamp",
    )
    res = run_full_cleanup(messages, content, retention_days=90, now=now)
    assert res.stats["deleted_messages"] == 1
    assert res.stats["deleted_content"] == 1
    assert res.stats["deleted_failed"] == 1
    assert res.stats["deleted_old_messages"] == 1
    assert res.stats["deleted_old_content"] == 1
    assert res.stats["cleaned_links"] == 1
    assert res.stats["total_cleaned"] == 6
    assert sorted(r["url"] for r in res.content.collect()) == ["u1"]
    msgs = {r["message_id"]: r["telegraph_link"] for r in res.messages.collect()}
    assert msgs == {1: "u1", 3: None}


def test_full_cleanup_compacts_lsh_index(spark, tmp_table_dir):
    """One maintenance job covers tables AND streaming state: with an
    lsh_index_store passed, run_full_cleanup compacts the signature
    store (file count bounded to ~one per bucket), pair detection
    against the compacted index is unchanged, and the file metrics
    ride in the stats WITHOUT inflating total_cleaned."""
    from pasta_pipeline_spark.operators.maintenance import (
        _live_data_file_count,
        run_full_cleanup,
    )
    from pasta_pipeline_spark.sources.tables import TableStore
    from pasta_pipeline_spark.streaming.dedup import lsh_index_batch

    store = TableStore(spark, f"{tmp_table_dir}/maint_lsh")
    buckets = 4
    text = "the quick brown fox jumps over the lazy dog and runs far away home"
    for i in range(4):  # micro-batches accrete files per touched bucket
        b = spark.createDataFrame(
            [(i * 10 + j, f"batch {i} doc {j} unique words {i}-{j} " + text)
             for j in range(3)],
            "doc_id long, text string",
        )
        lsh_index_batch(b, store, index_buckets=buckets)

    # AQE coalesces each local-scale merge to ~one file per bucket;
    # simulate real-scale fragmentation (one file per shuffle task per
    # touched bucket) so the test exercises what compaction exists for.
    store.overwrite(store.read().repartition(12), partition_by=["__bkt"])

    messages = spark.createDataFrame(
        [(1, datetime(2024, 5, 20), "u1", T1)],
        "message_id long, date timestamp, telegraph_link string, processed_at timestamp",
    )
    content = spark.createDataFrame(
        [("u1", "h1", "success", 0, T1, T1)],
        "url string, content_hash string, status string, retry_count int, "
        "processed_at timestamp, last_checked timestamp",
    )
    res = run_full_cleanup(
        messages, content, retention_days=3650, now=F.lit(datetime(2024, 6, 1)),
        lsh_index_store=store, lsh_index_buckets=buckets,
    )
    assert res.stats["index_files_before"] > buckets
    assert res.stats["index_files_after"] <= buckets
    assert res.stats["total_cleaned"] == 0  # file metrics excluded
    assert _live_data_file_count(store) == res.stats["index_files_after"]

    # detection against the compacted index is unchanged: a duplicate
    # of an indexed doc is still caught
    dup = spark.createDataFrame(
        [(999, "batch 0 doc 0 unique words 0-0 " + text)], "doc_id long, text string"
    )
    pairs = {(r["doc_a"], r["doc_b"]) for r in lsh_index_batch(dup, store, index_buckets=buckets).collect()}
    assert (0, 999) in pairs
    # and the post-compaction merge stayed differential (__bkt layout)
    assert store.read().count() == 13


# -- run_full_cleanup pinned to the chained composite it replaced -------------
#
# The reference below is the step-by-step form the one-pass tagging
# replaced, kept verbatim: five filtered frames chained in the
# reference's order, nine count() actions, and deleted counts derived
# as count-before minus count-after.

def remove_duplicate_messages(messages):
    return keep_latest(messages, "message_id", "processed_at")


def remove_duplicate_content(content):
    return dedup_content(content)


def cleanup_failed_links(content, now=None):
    doomed = (
        F.col("status").isin(*FAILED_STATUSES)
        & (F.col("retry_count") >= 3)
        & age_predicate("last_checked", 7, now=now)
    )
    return content.filter(~F.coalesce(doomed, F.lit(False)))


def cleanup_old_messages(messages, retention_days=90, now=None):
    old = age_predicate("date", retention_days, now=now)
    return messages.filter(~F.coalesce(old, F.lit(False)))


def cleanup_old_content(content, retention_days=90, now=None):
    old = age_predicate("processed_at", retention_days, now=now) & (
        F.col("status") != "success"
    )
    return content.filter(~F.coalesce(old, F.lit(False)))


def chained_full_cleanup(messages, content, retention_days=90, now=None):
    m0, c0 = messages.count(), content.count()

    m1 = remove_duplicate_messages(messages)
    n_m1 = m1.count()

    c1 = remove_duplicate_content(content)
    n_c1 = c1.count()

    c2 = cleanup_failed_links(c1, now=now)
    n_c2 = c2.count()

    c3 = cleanup_old_content(c2, retention_days, now=now)
    n_c3 = c3.count()

    m2 = cleanup_old_messages(m1, retention_days, now=now)
    n_m2 = m2.count()

    # orphan rewrite last, against the final content set
    m3 = null_out_orphans(m2, c3)
    cleaned_links = (
        m2.filter(F.col("telegraph_link").isNotNull()).count()
        - m3.filter(F.col("telegraph_link").isNotNull()).count()
    )

    counts = {
        "deleted_messages": m0 - n_m1,
        "deleted_content": c0 - n_c1,
        "cleaned_links": cleaned_links,
        "deleted_failed": n_c1 - n_c2,
        "deleted_old_messages": n_m1 - n_m2,
        "deleted_old_content": n_c2 - n_c3,
    }
    return m3, c3, cleanup_summary(counts)


NOW = datetime(2024, 6, 1)
OLD = datetime(2023, 1, 1)       # past the 90-day retention
STALE = datetime(2024, 5, 1)     # inside retention, 7+ days unchecked
FRESH = datetime(2024, 5, 30)

MSG_DDL = "message_id long, date timestamp, text string, telegraph_link string, processed_at timestamp"
CONTENT_DDL = (
    "url string, content_hash string, status string, retry_count int, "
    "processed_at timestamp, last_checked timestamp"
)

#: Hand-placed rows every seed starts from: each case the tags must
#: order correctly appears at least once.
BASE_MESSAGES = [
    (1, FRESH, "tie-a", "u-keep", T2),   # tied processed_at: struct
    (1, FRESH, "tie-b", "u-keep", T2),   # tiebreak keeps the greater row
    (2, OLD, "dup-old-a", "u-keep", T1),  # duplicate AND old: counted
    (2, OLD, "dup-old-b", "u-keep", T2),  # once as a duplicate
    (3, None, "null-date", "u-keep", None),      # NULL date, NULL processed_at
    (4, FRESH, "null-ts-a", "u-keep", None),     # NULL processed_at
    (4, FRESH, "null-ts-b", "u-keep", T1),       # sorts last under desc
    (5, FRESH, "orphan-by-dup", "u-dup-loser", T1),
    (6, FRESH, "orphan-by-failed", "u-failed", T1),
    (7, FRESH, "orphan-by-old", "u-old", T1),
    (8, FRESH, "orphan-before", "u-never", T1),
    (9, FRESH, "no-link", None, T1),
    (10, OLD, "old-with-orphan", "u-never", T1),  # old: not an orphan
]
BASE_CONTENT = [
    ("u-keep", "h-keep", "success", 0, T1, T1),
    ("u-dup-loser", "h-keep", "success", 0, T2, T2),   # W2 loser
    ("u-tie-a", "h-tie", "success", 0, T1, T1),        # tied processed_at:
    ("u-tie-b", "h-tie", "success", 0, T1, T1),        # url breaks the tie
    ("u-null-1", None, "error", 0, T1, T1),            # NULL hash exempt
    ("u-null-2", None, "error", 0, T1, T1),
    ("u-empty-1", "", "success", 0, T1, T1),           # empty hash exempt
    ("u-empty-2", "", "success", 0, T1, T1),
    ("u-failed", "h-f", "timeout", 3, FRESH, STALE),   # deleted_failed
    ("u-old", "h-o", "error", 0, OLD, FRESH),          # deleted_old_content
    ("u-dup-failed", "h-f", "error", 5, FRESH, STALE),  # dup AND failed
    ("u-null-status", "h-s", None, 9, OLD, OLD),        # NULL status kept
    ("u-null-checked", "h-c", "error", 9, FRESH, None),  # NULL last_checked
    ("u-null-ts", "h-n", "error", None, None, STALE),   # NULL processed_at
]


def _random_tables(spark, seed):
    import random

    rnd = random.Random(seed)
    pick = rnd.choice
    urls = [f"u{i}" for i in range(30)]
    ts = [T1, T2, T3, OLD, STALE, FRESH, None]
    messages = list(BASE_MESSAGES) + [
        (
            100 + rnd.randrange(25),
            pick(ts),
            f"m{seed}-{i}",
            pick(urls + ["u-keep", "u-old", "u-failed", None]),
            pick(ts),
        )
        for i in range(60)
    ]
    content = list(BASE_CONTENT) + [
        (
            u,
            pick(["h1", "h2", "h3", "h4", None, ""]),
            pick([*FAILED_STATUSES, "success", "not_found", None]),
            pick([0, 1, 3, 5, None]),
            pick(ts),
            pick(ts),
        )
        for u in urls
        if rnd.random() < 0.8
    ]
    return (
        spark.createDataFrame(messages, MSG_DDL),
        spark.createDataFrame(content, CONTENT_DDL),
    )


def _bag(df):
    from collections import Counter

    return Counter(tuple(r) for r in df.collect())


def test_full_cleanup_matches_chained_steps(spark):
    """Seeded random tables (duplicate keys with tied timestamps, NULL
    and empty hashes, NULL processed_at / last_checked / status,
    duplicates that are also old or failed, links orphaned by this
    run's deletes): every stat, in the same order, and both result
    frames equal the chained composite's."""
    now = F.lit(NOW)
    seen = dict.fromkeys(("deleted_messages", "deleted_content", "cleaned_links",
                          "deleted_failed", "deleted_old_messages",
                          "deleted_old_content"), 0)
    for seed in range(4):
        messages, content = _random_tables(spark, seed)
        want_m, want_c, want_stats = chained_full_cleanup(messages, content, 90, now)
        got = run_full_cleanup(messages, content, retention_days=90, now=now)
        assert list(got.stats.items()) == list(want_stats.items()), seed
        assert _bag(got.messages) == _bag(want_m), seed
        assert _bag(got.content) == _bag(want_c), seed
        assert got.messages.columns == want_m.columns
        assert got.content.columns == want_c.columns
        for k in seen:
            seen[k] += got.stats[k]
    assert all(seen.values()), seen  # every step fired on some seed


def test_full_cleanup_is_one_driver_action(spark, monkeypatch):
    """All six counts come from one aggregate: one collect, no count."""
    from pyspark.sql.classic.dataframe import DataFrame

    messages, content = _random_tables(spark, 0)
    calls = []
    for name in ("collect", "count"):
        orig = getattr(DataFrame, name)
        monkeypatch.setattr(
            DataFrame, name,
            lambda self, _n=name, _o=orig: (calls.append(_n), _o(self))[1],
        )
    run_full_cleanup(messages, content, retention_days=90, now=F.lit(NOW))
    assert calls == ["collect"]
