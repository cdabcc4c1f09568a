"""Pure-Python reference models the benchmark checks Spark's outputs
against. Each mirrors the documented semantics of the operator it
models (cited per function) on the generated inputs, single-threaded.
"""

from __future__ import annotations

import hashlib
import re
from collections import Counter
from datetime import datetime, timedelta

# functions/text.py TELEGRAPH_LINK_PATTERN / _TRAILING_PUNCT (the inputs use
# ASCII whitespace only, where Python's and Java's \s agree)
_LINK_RE = re.compile(r"https://telegra\.ph/[^\s\n\])>_*}]+")
_TRAIL_RE = re.compile(r"[.,\"'*_]+$")
MAX_CONTENT_LENGTH = 1_000_000
MAX_RETRIES = 3
FAILED_STATUSES = ("error", "timeout", "client_error", "server_error")


def first_link(text: str) -> str | None:
    """extract_telegraph_links + scalarize_link: first distinct cleaned
    link, trimmed, brace-stripped, '' -> None."""
    links: list[str] = []
    for m in _LINK_RE.findall(text or ""):
        link = _TRAIL_RE.sub("", m)
        if link not in links:
            links.append(link)
    if not links:
        return None
    t = links[0].strip()
    if len(t) >= 2 and t.startswith("{") and t.endswith("}"):
        t = t[1:-1]
    return None if t in ("", "{}") else t


def fetch_outcome(resp: tuple[int, str] | None) -> tuple[str, int]:
    """sources/fetch.py _fetch_one on a make_fixture_transport response:
    (status, attempts). Unknown URLs answer 404."""
    code, body = resp if resp is not None else (404, "")
    if code == -1:
        return "timeout", MAX_RETRIES
    if code == -2:
        return "client_error", MAX_RETRIES
    if code == -3:
        return "error", MAX_RETRIES
    if code == 404:
        return "not_found", 1
    if code >= 500:
        return "server_error", MAX_RETRIES
    if code != 200:
        return "http_error", 1
    if len(body) > MAX_CONTENT_LENGTH:
        return "content_too_large", 1
    return "success", 1


class EtlModel:
    """plans/pipeline.py PastaPipeline on dict state: message_id -> first
    link and date; url -> content bookkeeping."""

    def __init__(self, responses: dict[str, tuple[int, str]], lookback_days: int = 7):
        self.responses = responses
        self.lookback = timedelta(days=lookback_days)
        self.messages: dict[int, tuple[str | None, datetime]] = {}
        self.content: dict[str, dict] = {}

    def batch(self, rows: list[tuple], run_ts: datetime) -> dict:
        """One run_batch; returns the expected report["fetch"] counts and
        the number of fetch attempts made."""
        for mid, date, text, *_ in rows:
            if date >= run_ts - self.lookback:
                self.messages[mid] = (first_link(text), date)
        done = {u for u, c in self.content.items() if c["status"] == "success"}
        pending = sorted({link for link, _ in self.messages.values() if link} - done)
        counts: Counter = Counter()
        attempts = 0
        for url in pending:
            status, n = fetch_outcome(self.responses.get(url))
            counts[status] += 1
            attempts += n
            old = self.content.get(url)
            if status == "success":
                body = self.responses[url][1]
                self.content[url] = {
                    "status": "success", "retry_count": 0, "processed_at": run_ts,
                    "last_checked": run_ts,
                    "content_hash": hashlib.md5(body.encode()).hexdigest(),
                }
            else:
                self.content[url] = {
                    "status": status,
                    "retry_count": (old["retry_count"] if old else 0) + 1,
                    "processed_at": old["processed_at"] if old else None,
                    "last_checked": run_ts,
                    "content_hash": old["content_hash"] if old else None,
                }
        return {"fetch": dict(counts), "urls": len(pending), "attempts": attempts}

    def maintenance(self, now: datetime, retention_days: int = 90) -> dict:
        """operators/maintenance.py run_full_cleanup (message ids are
        already unique, so message dedup is the identity)."""
        keep: dict[str, tuple] = {}
        for url, c in self.content.items():
            h = c["content_hash"]
            if h:
                rank = (c["processed_at"] is None, c["processed_at"] or now, url)
                if h not in keep or rank < keep[h]:
                    keep[h] = rank
        survivors = {r[2] for r in keep.values()}
        n0 = len(self.content)
        self.content = {
            u: c for u, c in self.content.items() if not c["content_hash"] or u in survivors
        }
        deleted_content = n0 - len(self.content)
        week = now - timedelta(days=7)
        self.content = {
            u: c for u, c in self.content.items()
            if not (c["status"] in FAILED_STATUSES and c["retry_count"] >= 3
                    and c["last_checked"] < week)
        }
        horizon = now - timedelta(days=retention_days)
        self.content = {
            u: c for u, c in self.content.items()
            if not (c["processed_at"] is not None and c["processed_at"] < horizon
                    and c["status"] != "success")
        }
        self.messages = {m: v for m, v in self.messages.items() if not v[1] < horizon}
        cleaned = 0
        for mid, (link, date) in list(self.messages.items()):
            if link is not None and link not in self.content:
                self.messages[mid] = (None, date)
                cleaned += 1
        return {"deleted_content": deleted_content, "cleaned_links": cleaned}

    def summary(self) -> dict:
        """The quantities the final-table check compares."""
        return {
            "messages": len(self.messages),
            "messages_with_links": sum(1 for v in self.messages.values() if v[0]),
            "content": len(self.content),
            "status": dict(Counter(c["status"] for c in self.content.values())),
            "retry_total": sum(c["retry_count"] for c in self.content.values()),
        }


# ---------------------------------------------------------------------------
# corpus_curation
# ---------------------------------------------------------------------------


def tokens(text: str) -> list[str]:
    """functions/text.py tokenize_ws(lowercase=True)."""
    return [t for t in re.split(r"\s+", text.lower()) if t]


def shingle_set(text: str, n: int) -> frozenset:
    """operators/text_dedup.py shingles: distinct n-token shingles, or
    the whole text when shorter than n tokens."""
    toks = tokens(text)
    if len(toks) < n:
        return frozenset([" ".join(toks)])
    return frozenset(" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1))


def jaccard(a: frozenset, b: frozenset) -> float:
    return len(a & b) / len(a | b) if (a or b) else 1.0


def text_twins(docs: list[tuple], drop_mods: tuple[int, ...], rate_mod: int = 4,
               id_offset: int = 10_000_000) -> dict[int, str]:
    """operators/text_dedup.py plant_near_dup_texts: twin id -> twin text
    for every base doc with id % rate_mod == 0."""
    out = {}
    n_m = len(drop_mods)
    for doc_id, text, *_ in docs:
        if doc_id % rate_mod or text is None:
            continue
        m = drop_mods[(doc_id % (rate_mod * n_m)) // rate_mod]
        twin = doc_id + id_offset
        out[twin] = " ".join(
            f"zq{twin}x{i + 1}" if (i + 1) % m == 0 else t
            for i, t in enumerate(tokens(text))
        )
    return out


def md5_distinct(texts) -> int:
    return len({hashlib.md5(t.encode()).hexdigest() for t in texts})


# ---------------------------------------------------------------------------
# etl_daily: the streaming merge sink
# ---------------------------------------------------------------------------


def merge_lww(table: dict[int, tuple], batch: list[tuple]) -> None:
    """streaming/sink.py foreach_batch_merge over merge_upsert: the batch
    wins over the table; within the batch the newest ts wins (then the
    greatest remaining columns). Rows are (doc_id, ts_us, value, text)."""
    best: dict[int, tuple] = {}
    for row in batch:
        cur = best.get(row[0])
        if cur is None or row[1:] > cur[1:]:
            best[row[0]] = row
    table.update(best)
