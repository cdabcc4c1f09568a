"""HTTP fetch stage — S10 in SURVEY.md §2.1.

Parity source: process_telegraph_link
(/root/reference/dags/processors/telegraph_processor.py:149-256): per
URL, up to MAX_RETRIES attempts with linear rate-limit backoff, then a
status code from the full state machine:

    success | not_found (404, no retry) | http_error (other non-200,
    no retry) | server_error (>=500, retried) | content_too_large
    (>1MB) | timeout (retried) | client_error (retried) | error

Architecture: the reference fans out one Airflow task per link; here
the link DataFrame is repartitioned and each partition fetches its
URLs inside one ``mapInPandas`` pass — Spark's scheduler replaces
Airflow dynamic task mapping (SURVEY.md §2.11 O2), and the rate limit
applies per partition (aggregate rate = partitions × per-partition
rate, the same knob Airflow slot-count provided).

The transport is injectable: tests and offline runs pass a dict/callable
fixture (FIXTURES.md §A4 — no live HTTP in CI); production passes a
real HTTP client factory. The engine never imports an HTTP library at
module level, so the worker stays dependency-free.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StringType, StructField, StructType

MAX_RETRIES = 3
RATE_LIMIT_DELAY = 1.0
REQUEST_TIMEOUT = 30.0
MAX_CONTENT_LENGTH = 1_000_000

#: transport(url) -> (http_status, body). Raise TimeoutError for a
#: timeout, ConnectionError for a client error, anything else for
#: 'error'. Must be picklable (top-level function or closure-free).
Transport = Callable[[str], tuple[int, str]]

FETCH_RESULT_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("status", StringType(), False),
        StructField("html", StringType(), True),
        StructField("attempts", IntegerType(), False),
    ]
)


def _fetch_one(
    url: str,
    transport: Transport,
    max_retries: int,
    rate_limit_delay: float,
    max_content_length: int,
) -> tuple[str, str | None, int]:
    """The reference's retry state machine, exactly
    (telegraph_processor.py:157-256). Returns (status, html, attempts)."""
    attempt = 0
    for attempt in range(max_retries):
        try:
            if attempt > 0 and rate_limit_delay > 0:
                time.sleep(rate_limit_delay * attempt)  # linear backoff, :160-161
            status_code, body = transport(url)
            if status_code != 200:
                if status_code == 404:
                    return "not_found", None, attempt + 1
                if status_code >= 500:
                    if attempt < max_retries - 1:
                        continue
                    return "server_error", None, attempt + 1
                return "http_error", None, attempt + 1
            if len(body) > max_content_length:
                return "content_too_large", None, attempt + 1
            return "success", body, attempt + 1
        except TimeoutError:
            if attempt == max_retries - 1:
                return "timeout", None, attempt + 1
        except ConnectionError:
            if attempt == max_retries - 1:
                return "client_error", None, attempt + 1
        except Exception:
            if attempt == max_retries - 1:
                return "error", None, attempt + 1
    return "error", None, attempt + 1


def fetch_links(
    links: DataFrame,
    transport: Transport,
    url_col: str = "telegraph_link",
    max_retries: int = MAX_RETRIES,
    rate_limit_delay: float = RATE_LIMIT_DELAY,
    max_content_length: int = MAX_CONTENT_LENGTH,
    parallelism: int | None = None,
) -> DataFrame:
    """Fetch every URL in ``links`` and return
    (url, status, html, attempts) rows — one per input URL.

    Partition-parallel: ``links.repartition(parallelism)`` (default:
    the session's default parallelism) spreads URLs across workers;
    within a partition URLs fetch sequentially with the reference's
    rate limiting. The repartition is unconditional — the work list
    (``orderBy().limit()``) is one partition, and asking a plan for its
    partition count would run its exchanges while the plan is built.
    """
    from pasta_pipeline_spark.operators.util import ensure_package_on_workers

    spark = links.sparkSession
    ensure_package_on_workers(spark)
    src = links.select(F.col(url_col).alias("url")).where(F.col("url").isNotNull())
    src = src.repartition(parallelism or spark.sparkContext.defaultParallelism)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"url": [], "status": [], "html": [], "attempts": []}
            for url in pdf["url"]:
                status, html, attempts = _fetch_one(
                    url, transport, max_retries, rate_limit_delay, max_content_length
                )
                out["url"].append(url)
                out["status"].append(status)
                out["html"].append(html)
                out["attempts"].append(attempts)
            yield pd.DataFrame(out)

    return src.mapInPandas(run, FETCH_RESULT_SCHEMA)


def make_fixture_transport(responses: dict[str, tuple[int, str]]) -> Transport:
    """Offline transport from a url -> (status, body) dict
    (FIXTURES.md §A4). Special status values simulate failures:
    -1 → TimeoutError, -2 → ConnectionError, -3 → RuntimeError."""

    def transport(url: str) -> tuple[int, str]:
        if url not in responses:
            return 404, ""
        status, body = responses[url]
        if status == -1:
            raise TimeoutError(url)
        if status == -2:
            raise ConnectionError(url)
        if status == -3:
            raise RuntimeError(url)
        return status, body

    return transport
