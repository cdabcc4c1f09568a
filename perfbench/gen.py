"""Seeded input generators for the benchmark workloads.

Pure Python (``random.Random`` seeded with a string, so the stream does
not depend on ``PYTHONHASHSEED``); no Spark, no threads, no files. The
same ``seed`` always yields the same rows, which ``test_gen.py`` pins
byte for byte. The program under test only ever sees the rows these
classes return.
"""

from __future__ import annotations

import itertools
import random
from datetime import datetime, timedelta

DAY0 = datetime(2024, 6, 1, 12, 0, 0)
LOOKBACK_DAYS = 7

_SYLLABLES = [
    "ka", "lo", "mi", "ne", "pu", "ra", "si", "to", "vu", "ze",
    "bri", "cha", "dro", "fle", "gri", "kro", "pla", "sto", "tre", "vla",
]
_CYRILLIC = [
    "новости", "город", "история", "наука", "кино", "музыка",
    "спорт", "погода", "книги", "игры", "крипта", "мемы",
]


def make_vocab(size: int = 4000) -> list[str]:
    """Fixed pseudo-word vocabulary (seed-independent): distinct
    lowercase ASCII words of 2-4 syllables, rank 0 most frequent."""
    rng = random.Random("perfbench:vocab")
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < size:
        w = "".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 4)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


class Zipf:
    """Zipf(s) sampler over a fixed vocabulary."""

    def __init__(self, vocab: list[str], s: float = 1.1):
        self.vocab = vocab
        self.cum = list(itertools.accumulate(1.0 / (r + 1) ** s for r in range(len(vocab))))

    def words(self, rng: random.Random, k: int) -> list[str]:
        return rng.choices(self.vocab, cum_weights=self.cum, k=k)


# ---------------------------------------------------------------------------
# etl_daily: scrape artifacts + fetch fixtures
# ---------------------------------------------------------------------------

#: (fixture status, share of new URLs). -1/-2/-3 are make_fixture_transport's
#: timeout / connection-error / runtime-error codes; "big" is a 200 whose body
#: exceeds the fetch stage's content cap; "mirror" is a 200 whose page is a
#: byte copy of an earlier success (content dedup removes it at maintenance).
URL_MIX = (
    ("ok", 0.66), (404, 0.08), (503, 0.07), (-1, 0.06), (-2, 0.03),
    (-3, 0.02), ("big", 0.03), ("mirror", 0.05),
)
#: One shared oversized body: every "big" URL references this object, so a
#: pickled transport carries it once.
BIG_BODY = "x " * 500_001
_TRAIL = ["", "", "", ".", ",", "...", "'", '"', ")", "]", ".)", ",,"]

PAGE = (
    '<html><head><title>{title} – Telegraph</title>'
    '<meta property="twitter:description" content="{desc}">'
    '<meta property="article:published_time" content="{pub}">'
    '</head><body><header class="tl_article_header"><h1>{title}</h1></header>'
    "<p>{body}</p></body></html>"
)


class EtlInputs:
    """Daily scrape artifacts for ``PastaPipeline.run_batch``.

    ``batch(day)`` must be called for day 0, 1, 2, ... in order: replays
    draw on earlier days. Each raw row is ``(message_id, date, text,
    views, forwards, scraped_at)``. ``responses`` is the fetch fixture
    (url -> (status, body)) for every link generated so far.
    """

    def __init__(self, seed: int, batch_rows: int = 2000, replay_frac: float = 0.10):
        self.rng = random.Random(f"perfbench:etl:{seed}")
        self.batch_rows = batch_rows
        self.replay_frac = replay_frac
        self.zipf = Zipf(make_vocab())
        self.responses: dict[str, tuple[int, str]] = {}
        self.kind: dict[str, object] = {}
        self._ok_pages: list[str] = []
        self._urls: list[str] = []
        self._history: list[tuple] = []
        self._next_id = 1_000_000 * (seed % 1000 + 1)
        self._next_day = 0

    @staticmethod
    def run_ts(day: int) -> datetime:
        return DAY0 + timedelta(days=day)

    def _new_url(self) -> str:
        rng = self.rng
        w = self.zipf.words(rng, 2)
        slug = f"{w[0].capitalize()}-{w[1]}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"
        url = f"https://telegra.ph/{slug}-{len(self._urls)}"
        r = rng.random()
        kind: object = "ok"
        for k, share in URL_MIX:
            if r < share:
                kind = k
                break
            r -= share
        if kind == "mirror" and not self._ok_pages:
            kind = "ok"
        if kind == "ok":
            body = " ".join(self.zipf.words(rng, rng.randint(20, 60)))
            page = PAGE.format(
                title=" ".join(w).title(),
                desc=f"{w[1]} {len(self._urls)}",
                pub=f"2024-{rng.randint(1, 5):02d}-{rng.randint(1, 28):02d}T00:00:00Z",
                body=body,
            )
            self._ok_pages.append(page)
            resp = (200, page)
        elif kind == "mirror":
            resp = (200, rng.choice(self._ok_pages))
        elif kind == "big":
            resp = (200, BIG_BODY)
        else:
            resp = (int(kind), "")
        self.responses[url] = resp
        self.kind[url] = kind
        self._urls.append(url)
        return url

    def _text(self) -> str:
        rng = self.rng
        parts = self.zipf.words(rng, rng.randint(8, 40))
        n_links = rng.choices((0, 1, 2, 3), weights=(3, 4, 2, 1))[0]
        for _ in range(n_links):
            if self._urls and rng.random() < 0.3:
                url = rng.choice(self._urls)
            else:
                url = self._new_url()
            prefix = "(" if rng.random() < 0.1 else ""
            parts.insert(rng.randrange(len(parts) + 1), prefix + url + rng.choice(_TRAIL))
        for _ in range(rng.choices((0, 1, 2, 3), weights=(4, 3, 2, 1))[0]):
            tag = rng.choice(_CYRILLIC) if rng.random() < 0.4 else self.zipf.words(rng, 1)[0]
            if rng.random() < 0.3:
                tag = tag.capitalize()
            parts.insert(rng.randrange(len(parts) + 1), "#" + tag)
        return " ".join(parts)

    def batch(self, day: int) -> list[tuple]:
        if day != self._next_day:
            raise ValueError(f"batches are generated in order; expected day {self._next_day}")
        self._next_day += 1
        rng = self.rng
        run_ts = self.run_ts(day)
        scraped = run_ts - timedelta(minutes=30)
        first_new = self._next_id
        rows: list[tuple] = []
        for _ in range(self.batch_rows):
            if self._history and rng.random() < self.replay_frac:
                mid, date, text, views, fwd, _ = rng.choice(self._history)
                rows.append((mid, date, text, views + rng.randint(0, 50), fwd, scraped))
                continue
            # whole-second offsets that never land exactly on the lookback edge
            off = rng.randrange(60, 9 * 86400)
            if off == LOOKBACK_DAYS * 86400:
                off += 1
            row = (
                self._next_id,
                run_ts - timedelta(seconds=off),
                self._text(),
                rng.randint(0, 20000),
                rng.randint(0, 500),
                scraped,
            )
            self._next_id += 1
            rows.append(row)
        self._history.extend(r for r in rows if r[0] >= first_new)
        return rows


# ---------------------------------------------------------------------------
# corpus_curation: text shards + embedding shards
# ---------------------------------------------------------------------------

SOURCES = (("forum", 8), ("news", 4), ("wiki", 2), ("code", 1))
TEXT_DROP_MODS = (16, 24)
EMB_COSINES = (0.95, 0.97, 0.99)
EMB_DIM = 32
PLANT_OFFSET = 10_000_000


class CorpusShard:
    """One corpus shard: ``docs`` rows ``(doc_id, text, source)`` (base
    documents, about 5% exact copies; the near-dup twins are planted in
    Spark by ``plant_near_dup_texts``), ``vectors`` rows ``(vec_id,
    embedding)`` (twins planted by ``plant_near_dups``), ``queries`` rows
    ``(qid, qv)`` for the k-NN join, and ``benchmark`` rows ``(bench_id,
    text)`` whose 5-grams decontamination must remove."""

    def __init__(self, seed: int, shard: int, n_docs: int = 300, n_vecs: int = 400,
                 n_queries: int = 16):
        rng = random.Random(f"perfbench:corpus:{seed}:{shard}")
        zipf = Zipf(make_vocab())
        base = shard * 100_000
        docs: list[tuple] = []
        src_names = [s for s, _ in SOURCES]
        src_w = [w for _, w in SOURCES]
        for i in range(n_docs):
            doc_id = base + i
            if docs and rng.random() < 0.05:
                text = rng.choice(docs)[1]
            else:
                text = " ".join(zipf.words(rng, rng.randint(30, 110)))
            docs.append((doc_id, text, rng.choices(src_names, weights=src_w)[0]))
        self.docs = docs
        self.benchmark = [
            (j, " ".join(d[1].split()[:12])) for j, d in enumerate(rng.sample(docs, 6))
        ]
        vecs = []
        for i in range(n_vecs):
            v = [rng.gauss(0.0, 1.0) for _ in range(EMB_DIM)]
            vecs.append((base + i, v))
        self.vectors = vecs
        queries = []
        for q in range(n_queries):
            _, v = rng.choice(vecs)
            queries.append((q, [x + rng.gauss(0.0, 0.3) for x in v]))
        self.queries = queries


# ---------------------------------------------------------------------------
# etl_daily: file drops for the streaming queries
# ---------------------------------------------------------------------------

STREAM_T0_US = int(datetime(2024, 6, 1).timestamp()) * 1_000_000


class StreamInputs:
    """File drops for the streaming queries of ``etl_daily``, one list of rows per file:
    ``(doc_id, ts_us, value, text)``. A doc's text never changes; later
    rows for a doc are updates (newer ``ts``), out-of-order updates
    (older ``ts``, arriving later) or exact redeliveries of an earlier
    row. About 15% of new docs are near-duplicate twins of an earlier
    doc; ``planted`` lists those (base, twin) pairs."""

    def __init__(self, seed: int, rows_per_file: int = 400):
        self.rng = random.Random(f"perfbench:stream:{seed}")
        self.rows_per_file = rows_per_file
        self.zipf = Zipf(make_vocab())
        self.text: dict[int, str] = {}
        self.last_ts: dict[int, int] = {}
        self.sent: list[tuple] = []
        self.planted: list[tuple[int, int]] = []
        self._next_id = 1
        self._seq = 0

    def _ts(self, second: int) -> int:
        # unique microsecond tail: no two generated rows share a ts
        self._seq += 1
        return STREAM_T0_US + second * 1_000_000 + self._seq

    def file(self) -> list[tuple]:
        rng = self.rng
        rows: list[tuple] = []
        for _ in range(self.rows_per_file):
            r = rng.random()
            if self.sent and r < 0.10:
                rows.append(rng.choice(self.sent))  # redelivery
                continue
            if self._next_id > 1 and r < 0.35:
                doc = rng.randrange(1, self._next_id)
                late = r < 0.17
                last_s = (self.last_ts[doc] - STREAM_T0_US) // 1_000_000
                ts = self._ts(last_s + rng.randint(1, 3600) * (-1 if late else 1))
                self.last_ts[doc] = max(self.last_ts[doc], ts)
            else:
                doc = self._next_id
                self._next_id += 1
                toks = self.zipf.words(rng, rng.randint(30, 80))
                if doc > 1 and rng.random() < 0.15:
                    base = rng.randrange(1, doc)
                    toks = [
                        f"zz{doc}x{i}" if (i + 1) % 16 == 0 else t
                        for i, t in enumerate(self.text[base].split())
                    ]
                    self.planted.append((base, doc))
                self.text[doc] = " ".join(toks)
                ts = self._ts(rng.randint(0, 86400 * 30))
                self.last_ts[doc] = ts
            row = (doc, ts, round(rng.uniform(0, 1000), 3), self.text[doc])
            self.sent.append(row)
            rows.append(row)
        return rows


def json_bytes(rows: list[tuple]) -> int:
    """Size of ``rows`` as JSON lines — the benchmark's measure of
    generated input bytes (denominator of ``write_amp``)."""
    import json

    return sum(len(json.dumps(r, default=str, ensure_ascii=False).encode()) + 1 for r in rows)

