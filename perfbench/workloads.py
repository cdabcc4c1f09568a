"""The benchmark workloads. Each is a closed loop with one client: a job
starts after the previous one returns. The first units of a workload
are its warm-up: untimed and untraced, on the same tables the timed
units then grow, and reported as set-up. The timed units follow, until ``seconds``
of job time have passed or for exactly ``n_jobs`` jobs (the traced pass
replays the untraced pass's job count). Every operation, warm-up
included, is checked against the Python reference models; a workload
returns a :class:`Result`.

Only the calls into the program are timed; input generation, the
reference models and the output checks run between jobs, untimed, and
the disk scans of the byte ledger, which run inside table writes, are
subtracted from the jobs they run in.
"""

from __future__ import annotations

import hashlib
import os
import sys
import time
import traceback
from collections import Counter
from dataclasses import dataclass, field

import gen
import models
from measure import ByteLedger

from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from pasta_pipeline_spark.sources.tables import TableStore


@dataclass
class Result:
    job_s: list[float] = field(default_factory=list)
    wall_s: float = 0.0  # timed time: the sum of job (and maintenance) time
    warm_s: float = 0.0  # the workload's set-up and warm-up units, untimed
    rows: int = 0  # input rows of the timed units
    attempted: int = 0
    failed: int = 0
    recall_found: int = 0
    recall_planted: int = 0
    input_bytes: int = 0  # all units: the tables hold the warm-up's writes too
    stores: list = field(default_factory=list)  # TableStores for live bytes
    extra_dirs: list = field(default_factory=list)  # append-only table dirs
    counters: dict = field(default_factory=dict)  # per-layer extras

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"perfbench: check failed: {what}", file=sys.stderr)


class MeteredTableStore(TableStore):
    """TableStore that records the bytes each write adds on disk, so the
    files a later version GC deletes are still counted."""

    def __init__(self, spark, path, schema, ctx: Ctx):
        super().__init__(spark, path, schema)
        self.ctx = ctx

    def overwrite(self, df, partition_by=None):
        super().overwrite(df, partition_by)
        self.ctx.scan(self.path)

    def merge_partitioned(self, *args, **kwargs):
        super().merge_partitioned(*args, **kwargs)
        self.ctx.scan(self.path)


class Ctx:
    """What a workload needs from the run: the session, the tracer, a
    fresh directory and the byte ledger."""

    def __init__(self, spark, tracer, work_dir: str):
        self.spark = spark
        self.tracer = tracer
        self.work_dir = work_dir
        self.ledger = ByteLedger()
        os.makedirs(work_dir, exist_ok=True)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work_dir, *parts)

    def store(self, name: str, schema=None) -> MeteredTableStore:
        return MeteredTableStore(self.spark, self.path("tables", name), schema, self)

    def scan(self, root: str) -> None:
        """Add the files new under ``root`` to the ledger; the scan is not
        job time."""
        with self.tracer.excluded():
            self.ledger.scan(root)

    def now(self) -> float:
        """Clock for job latency: wall time minus the ledger's scans."""
        return time.perf_counter() - self.tracer.excluded_s


def _run_units(ctx: Ctx, res: Result, started: float, seconds: float | None,
               n_jobs: int | None, unit, warm: int) -> bool:
    """Units 0 to ``warm - 1`` untraced and untimed (``res.warm_s`` is the
    time from ``started`` to their end), then timed units until
    ``seconds`` of job time or ``n_jobs`` jobs. ``unit(i)`` returns the
    unit's latency and input rows, or None when a call raised; so does
    this (False)."""
    with ctx.tracer.off():
        ok = all(unit(i) is not None for i in range(warm))
    res.warm_s = time.perf_counter() - started
    i = warm
    while ok and (len(res.job_s) < n_jobs if n_jobs is not None else res.wall_s < seconds):
        out = unit(i)
        if out is None:
            return False
        res.job_s.append(out[0])
        res.wall_s += out[0]
        res.rows += out[1]
        i += 1
    return ok


# ---------------------------------------------------------------------------
# etl_daily: the streaming ingest of a day's drop, then the daily batch
# ---------------------------------------------------------------------------

RAW_SCHEMA = (
    "message_id long, date timestamp, text string, views int, forwards int, "
    "scraped_at timestamp"
)
DROP_SCHEMA = "doc_id long, ts timestamp, value double, text string"
DROP_STRUCT = StructType([
    StructField("doc_id", LongType()), StructField("ts", TimestampType()),
    StructField("value", DoubleType()), StructField("text", StringType()),
])


def _write_drop(path: str, rows: list[tuple], mtime: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "ts": pa.array([r[1] for r in rows], pa.timestamp("us", tz="UTC")),
        "value": pa.array([r[2] for r in rows], pa.float64()),
        "text": pa.array([r[3] for r in rows], pa.string()),
    })
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path))
    pq.write_table(table, tmp)
    os.utime(tmp, (mtime, mtime))  # the file source picks files oldest first
    os.replace(tmp, path)


class StreamIngest:
    """File drops, each read by two ``availableNow`` queries with one
    file per trigger: the keyed merge sink (``foreach_batch_merge``)
    into a growing table, and incremental near-dup detection
    (``incremental_lsh_dedup``) against a growing signature index."""

    def __init__(self, ctx: Ctx, seed: int, rows_per_file: int):
        self.ctx = ctx
        self.inputs = gen.StreamInputs(seed, rows_per_file=rows_per_file)
        self.drops = ctx.path("drops")
        os.makedirs(self.drops, exist_ok=True)
        self.table = ctx.store("stream_table", DROP_STRUCT)
        self.index = ctx.store("lsh_index")
        self.pairs_dir = ctx.path("tables", "lsh_pairs")
        self.model: dict[int, tuple] = {}
        self.n_files = 0
        self.rows: list[tuple] = []
        self.merge_s: list[float] = []  # the merge micro-batch of each timed drop

    def drop(self) -> int:
        """Write the next drop; returns its input bytes."""
        self.rows = self.inputs.file()
        _write_drop(os.path.join(self.drops, f"drop-{self.n_files:06d}.parquet"), self.rows,
                    1_700_000_000 + self.n_files)
        self.n_files += 1
        return gen.json_bytes(self.rows)

    def _read(self):
        return (self.ctx.spark.readStream.schema(DROP_SCHEMA)
                .option("maxFilesPerTrigger", 1).parquet(self.drops))

    def _query(self, name: str, start) -> float | None:
        """Run one query over the new drop. Returns its micro-batch's
        time less the ledger's scans in it, or None when the progress
        shows other than one micro-batch of the drop's rows."""
        tr = self.ctx.tracer
        x0 = tr.excluded_s
        with tr.span(name) as sp:
            q = start()
            if sp is not None:
                sp.extra_groups.append(str(q.runId))
            q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
        if [p["numInputRows"] for p in batches] != [len(self.rows)]:
            return None
        return batches[0]["durationMs"]["triggerExecution"] / 1000.0 - (tr.excluded_s - x0)

    def ingest(self) -> tuple[float | None, float | None]:
        """Both queries over the new drop: their micro-batch times."""
        from pasta_pipeline_spark.streaming.dedup import incremental_lsh_dedup
        from pasta_pipeline_spark.streaming.sink import foreach_batch_merge

        merge = self._query("streaming.sink.foreach_batch_merge", lambda: foreach_batch_merge(
            self._read(), self.table, key="doc_id", order_col="ts",
            checkpoint_dir=self.ctx.path("ckpt", "merge"),
        ))
        dedup = self._query("streaming.dedup.incremental_lsh_dedup", lambda: incremental_lsh_dedup(
            self._read(), self.index, pairs_dir=self.pairs_dir,
            checkpoint_dir=self.ctx.path("ckpt", "lsh"), id_col="doc_id", text_col="text",
        ))
        return merge, dedup

    def check(self, merge_s, dedup_s, res: Result) -> None:
        """Each query ran one micro-batch of the drop; the table equals
        the model's keyed last-writer-wins result."""
        self.ctx.scan(self.pairs_dir)
        if merge_s is None or dedup_s is None:
            res.fail(f"stream drop {self.n_files - 1} is not one micro-batch of its rows")
        models.merge_lww(self.model, self.rows)
        got = {
            r[0]: (r[0], r[1], r[2], r[3])
            for r in self.table.read().select(
                "doc_id", F.unix_micros("ts"), "value", "text"
            ).collect()
        }
        if got != self.model:
            res.fail(f"stream table after {self.n_files} drops differs from the model "
                     f"({len(got)} vs {len(self.model)} keys)")

    def finish(self, res: Result) -> None:
        """Detected pairs name known docs in order; planted-pair recall."""
        spark = self.ctx.spark
        found = {
            (r["doc_a"], r["doc_b"])
            for r in spark.read.parquet(self.pairs_dir).select("doc_a", "doc_b").distinct().collect()
        } if os.path.isdir(self.pairs_dir) else set()
        text = self.inputs.text
        if any(a >= b or a not in text or b not in text for a, b in found):
            res.fail("stream: a detected pair names an unknown or unordered doc")
        res.recall_planted += len(self.inputs.planted)
        res.recall_found += len(found & set(self.inputs.planted))
        if self.merge_s:
            res.counters["streaming.sink.batch_s"] = sorted(self.merge_s)[len(self.merge_s) // 2]


BATCH_ROWS = 2000  # raw messages a day
DROP_ROWS = 150  # rows a file drop
#: Day 0 is the warm-up. Day 1, the first on tables that exist, still runs
#: ~40% slower than later days; a second warm-up day costs ~20 s of every
#: run, more than the benchmark's time allows.
WARM_DAYS = 1


def etl_daily(ctx: Ctx, seed: int, seconds: float | None = None,
              n_jobs: int | None = None) -> Result:
    """Consecutive days on one set of tables, then ``run_maintenance``.
    A day (one job) is the day's file drop through the two streaming
    queries, then ``run_batch`` on the day's scrape. Maintenance is timed
    (in ``rows_per_s``) but not a job."""
    from pasta_pipeline_spark.plans.pipeline import PastaPipeline
    from pasta_pipeline_spark.sources.fetch import make_fixture_transport

    started = time.perf_counter()
    spark, tr = ctx.spark, ctx.tracer
    res = Result()
    inputs = gen.EtlInputs(seed, batch_rows=BATCH_ROWS)
    model = models.EtlModel(inputs.responses)
    pipe = PastaPipeline(spark, ctx.path("tables", "pipeline"))
    pipe.messages = ctx.store("pipeline/telegram_messages", pipe.messages.schema)
    pipe.content = ctx.store("pipeline/telegraph_content", pipe.content.schema)
    stream = StreamIngest(ctx, seed, DROP_ROWS)
    res.stores = [pipe.messages, pipe.content, stream.table, stream.index]
    res.extra_dirs = [stream.pairs_dir]
    transport = make_fixture_transport(inputs.responses)
    fetch: Counter = Counter()  # urls fetched and successes, as run_batch reports them
    attempts = None
    if tr.enabled:  # transport calls, counted in the Python workers
        attempts = spark.sparkContext.accumulator(0)
        transport = _counted(transport, attempts)

    def day(d: int) -> tuple[float, int] | None:
        rows = inputs.batch(d)
        run_ts = inputs.run_ts(d)
        raw = spark.createDataFrame(rows, RAW_SCHEMA)
        res.input_bytes += gen.json_bytes(rows) + stream.drop()
        res.attempted += 3  # two streaming queries, run_batch
        a0 = attempts.value if attempts is not None else 0
        t0 = ctx.now()
        try:
            merge_s, dedup_s = stream.ingest()
            with tr.span("plans.pipeline.PastaPipeline.run_batch"):
                report = pipe.run_batch(
                    raw, transport, run_ts=F.lit(run_ts), mode="incremental",
                    max_messages=len(rows), max_links=len(inputs.responses) + 1,
                    rate_limit_delay=0.0,
                )
        except Exception:
            traceback.print_exc()
            res.fail(f"etl_daily day {d} raised")
            return None
        dt = ctx.now() - t0
        stream.check(merge_s, dedup_s, res)
        if d >= WARM_DAYS and merge_s is not None:
            stream.merge_s.append(merge_s)
        want = model.batch(rows, run_ts)
        fetch.update(urls=sum(report["fetch"].values()), ok=report["fetch"].get("success", 0))
        got_msgs = report["messages"]["unique_messages"]
        if report["fetch"] != want["fetch"] or got_msgs != len(model.messages):
            res.fail(f"etl_daily day {d}: report {report['fetch']} / {got_msgs} messages, "
                     f"model {want['fetch']} / {len(model.messages)}")
        if attempts is not None and attempts.value - a0 != want["attempts"]:
            res.fail(f"etl_daily day {d}: {attempts.value - a0} fetch attempts, "
                     f"model {want['attempts']}")
        return dt, len(rows) + len(stream.rows)

    if not _run_units(ctx, res, started, seconds, n_jobs, day, warm=WARM_DAYS):
        return res
    now = inputs.run_ts(WARM_DAYS + len(res.job_s) - 1)
    res.attempted += 1
    t0 = ctx.now()
    try:
        with tr.span("plans.pipeline.PastaPipeline.run_maintenance"):
            stats = pipe.run_maintenance(retention_days=90, run_ts=F.lit(now))
    except Exception:
        traceback.print_exc()
        res.fail("etl_daily run_maintenance raised")
        return res
    res.wall_s += ctx.now() - t0
    _check_etl_tables(pipe, model, stats, model.maintenance(now), res)
    stream.finish(res)
    res.input_bytes += sum(
        len(body.encode()) for _code, body in inputs.responses.values()
        if len(body) <= models.MAX_CONTENT_LENGTH
    )
    if attempts is not None:
        res.counters["sources.fetch.attempts_per_url"] = attempts.value / max(fetch["urls"], 1)
        res.counters["sources.fetch.success_frac"] = fetch["ok"] / max(fetch["urls"], 1)
    return res


def _counted(transport, calls):
    """``transport`` that adds one to the accumulator ``calls`` per call."""

    def call(url: str):
        calls.add(1)
        return transport(url)

    return call


def _check_etl_tables(pipe, model, stats, want_stats, res: Result) -> None:
    """Final tables against the model: distinct keys, messages with
    links, per-status counts, retry_count total, and the maintenance
    counts."""
    msgs = pipe.messages.read().select("message_id", "telegraph_link").collect()
    content = pipe.content.read().select("url", "status", "retry_count").collect()
    got = {
        "messages": len({r[0] for r in msgs}),
        "messages_with_links": sum(1 for r in msgs if r[1] is not None),
        "content": len({r[0] for r in content}),
        "status": dict(Counter(r[1] for r in content)),
        "retry_total": sum(r[2] or 0 for r in content),
    }
    want = model.summary()
    if got != want:
        res.fail(f"etl_daily final tables {got} != model {want}")
    for k, v in want_stats.items():
        if stats.get(k) != v:
            res.fail(f"etl_daily maintenance {k}={stats.get(k)}, model {v}")


# ---------------------------------------------------------------------------
# corpus_curation
# ---------------------------------------------------------------------------

TEXT_THRESHOLD = 0.5
EMB_THRESHOLD = 0.9
KNN_K = 5


SHARD_DOCS, SHARD_VECS = 300, 400


def corpus_curation(ctx: Ctx, seed: int, seconds: float | None = None,
                    n_jobs: int | None = None) -> Result:
    """One corpus shard per job through near-dup detection (text and
    embedding), exact dedup, a k-NN join and the training-corpus plan,
    whose output lands in a shard-partitioned table. Shard 0 is the
    warm-up."""
    from pasta_pipeline_spark.operators.dedup import dedup_exact
    from pasta_pipeline_spark.operators.similarity import (
        knn_join,
        plant_near_dups,
        semantic_dedup_auto,
    )
    from pasta_pipeline_spark.operators.text_dedup import (
        minhash_lsh_pairs,
        plant_near_dup_texts,
    )
    from pasta_pipeline_spark.plans.training_data import prepare_training_corpus

    started = time.perf_counter()
    spark, tr = ctx.spark, ctx.tracer
    res = Result()
    curated = ctx.store("curated")
    res.stores = [curated]
    seen = Counter()  # docs and text pairs, for pairs_per_doc

    def shard(shard_no: int) -> tuple[float, int] | None:
        shard = gen.CorpusShard(seed, shard_no, n_docs=SHARD_DOCS, n_vecs=SHARD_VECS)
        twins = models.text_twins(shard.docs, gen.TEXT_DROP_MODS, id_offset=gen.PLANT_OFFSET)
        texts = {d[0]: d[1] for d in shard.docs} | twins
        docs = plant_near_dup_texts(
            spark.createDataFrame(shard.docs, "doc_id long, text string, source string"),
            drop_mods=gen.TEXT_DROP_MODS, id_offset=gen.PLANT_OFFSET,
        )
        base_vecs = spark.createDataFrame(shard.vectors, "vec_id long, embedding array<float>")
        vecs = plant_near_dups(base_vecs, dim=gen.EMB_DIM, cosines=gen.EMB_COSINES,
                               id_offset=gen.PLANT_OFFSET)
        queries = spark.createDataFrame(shard.queries, "qid long, qv array<float>")
        bench = spark.createDataFrame(shard.benchmark, "bench_id long, text string")
        n_emb_twins = sum(1 for v in shard.vectors if v[0] % 4 == 0)
        res.input_bytes += gen.json_bytes(shard.docs) + gen.json_bytes(shard.vectors) + sum(
            len(t.encode()) for t in twins.values()
        )

        res.attempted += 5
        t0 = ctx.now()
        try:
            with tr.span("operators.text_dedup.minhash_lsh_pairs"):
                pairs = minhash_lsh_pairs(docs, "doc_id", "text", threshold=TEXT_THRESHOLD).collect()
            with tr.span("operators.dedup.dedup_exact"):
                n_exact = dedup_exact(docs.select(F.md5("text").alias("h"))).count()
            with tr.span("operators.similarity.semantic_dedup_auto"):
                kept = semantic_dedup_auto(vecs, EMB_THRESHOLD, dim=gen.EMB_DIM).collect()
            with tr.span("operators.similarity.knn_join"):
                nn = knn_join(base_vecs, queries, k=KNN_K).collect()
            # materialised in its own span, so the table write that follows
            # is attributed only its own work
            with tr.span("plans.training_data.prepare_training_corpus"):
                out = prepare_training_corpus(docs, bench).localCheckpoint()
            curated.merge_partitioned(out.withColumn("shard", F.lit(shard_no)),
                                      key="doc_id", partition_col="shard")
        except Exception:
            traceback.print_exc()
            res.fail(f"corpus_curation shard {shard_no} raised")
            return None
        dt = ctx.now() - t0

        # -- checks -----------------------------------------------------------
        sh = {}

        def shingles(i):
            if i not in sh:
                sh[i] = models.shingle_set(texts[i], 3)
            return sh[i]

        found = {(r["doc_a"], r["doc_b"]) for r in pairs}
        bad = [p for p in found if models.jaccard(shingles(p[0]), shingles(p[1])) < TEXT_THRESHOLD]
        if bad:
            res.fail(f"corpus_curation shard {shard_no}: {len(bad)} pairs below threshold")
        planted = {(t - gen.PLANT_OFFSET, t) for t in twins}
        seen.update(docs=len(texts), pairs=len(found))

        if n_exact != models.md5_distinct(texts.values()):
            res.fail(f"corpus_curation shard {shard_no}: exact dedup {n_exact} != "
                     f"{models.md5_distinct(texts.values())}")

        emb_found = _check_semantic(kept, shard, n_emb_twins, res, shard_no)
        _check_knn(nn, shard, res, shard_no)
        _check_curated(curated, shard_no, texts, res)
        res.recall_found += len(found & planted) + emb_found
        res.recall_planted += len(planted) + n_emb_twins
        return dt, len(texts) + len(shard.vectors) + n_emb_twins

    _run_units(ctx, res, started, seconds, n_jobs, shard, warm=1)
    res.counters = {"operators.text_dedup.pairs_per_doc": seen["pairs"] / max(seen["docs"], 1)}
    return res


def _check_semantic(kept, shard, n_twins: int, res: Result, shard_no: int) -> int:
    """semantic_dedup_auto keeps one row per vector and drops a vector
    only when a kept vector of its group is a near duplicate; returns
    the planted twins it dropped."""
    import numpy as np

    state = {r["vec_id"]: r["kept"] for r in kept}
    if len(state) != len(kept) or len(kept) != len(shard.vectors) + n_twins:
        res.fail(f"corpus_curation shard {shard_no}: semantic dedup returned {len(kept)} rows")
        return 0
    base = {i: v for i, v in shard.vectors}
    dropped = [i for i, k in state.items() if k == 0]
    if any(i not in base and i - gen.PLANT_OFFSET not in base for i in dropped):
        res.fail(f"corpus_curation shard {shard_no}: semantic dedup dropped an unknown id")
        return 0
    # a dropped base vector must have a near duplicate among the base set
    ids = np.array(list(base))
    mat = np.array([base[i] for i in ids], dtype=np.float32).astype(np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    for i in dropped:
        if i in base:
            sims = mat @ mat[np.searchsorted(ids, i)]
            if np.sort(sims)[-2] < EMB_THRESHOLD - 0.05:
                res.fail(f"corpus_curation shard {shard_no}: base vector {i} dropped without twin")
                return 0
    return sum(1 for i in dropped if i >= gen.PLANT_OFFSET)


def _check_knn(nn, shard, res: Result, shard_no: int) -> None:
    """knn_join against exact float64 cosine top-k (ties by id)."""
    import numpy as np

    ids = np.array([i for i, _ in shard.vectors])
    mat = np.array([v for _, v in shard.vectors], dtype=np.float32).astype(np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    got: dict[int, set] = {}
    for r in nn:
        got.setdefault(r["qid"], set()).add(r["vec_id"])
    for qid, qv in shard.queries:
        q = np.array(qv, dtype=np.float32).astype(np.float64)
        sims = mat @ (q / np.linalg.norm(q))
        order = np.lexsort((ids, -sims))
        want = set(ids[order[:KNN_K]].tolist())
        if got.get(qid) != want:
            kth = sims[order[KNN_K - 1]]
            near = {int(i) for i, s in zip(ids, sims) if abs(s - kth) < 1e-9}
            if not got.get(qid, set()) ^ want <= near:
                res.fail(f"corpus_curation shard {shard_no}: knn for query {qid} differs")
                return


def _check_curated(curated, shard_no: int, texts: dict, res: Result) -> None:
    """The curated partition: unique known ids, word counts as Python
    counts them, at least 20 words, no two identical texts."""
    rows = curated.read().where(F.col("shard") == shard_no).collect()
    ids = [r["doc_id"] for r in rows]
    ok = (
        rows
        and len(set(ids)) == len(ids)
        and all(i in texts for i in ids)
        and all(r["n_words"] == len(texts[r["doc_id"]].split()) >= 20 for r in rows)
        and len({hashlib.md5(texts[i].encode()).digest() for i in ids}) == len(ids)
    )
    if not ok:
        res.fail(f"corpus_curation shard {shard_no}: curated partition fails its checks")


WORKLOADS = {
    "etl_daily": etl_daily,
    "corpus_curation": corpus_curation,
}
