"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds nothing: it starts one Spark driver
(``local[<cpus>]``), runs the workload on the inputs made from ``--seed``
(its first unit is an untimed warm-up, reported with the session start
as ``setup_s``; then the timed closed loop), checks every output against
the Python reference models and prints one JSON object as its last line
of output:
the end-to-end metrics with ``--trace 0``; with ``--trace 1`` it replays
the same number of jobs a second time with spans on and prints the
per-layer metrics instead. All scratch files live under
``.perfbench/`` in the working directory and are removed at exit, except
the span log of a traced run (``.perfbench/traces/``). Exits 2 without a
result when the program under test cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: Per-layer stats reported for each traced function (a stat a function
#: never moves is left out: lazy plan builders submit no Spark jobs, and
#: the jobs of a function whose every action runs in a traced callee
#: land in the callee's span).
EXEC = ("calls", "s", "self_s", "jobs", "tasks", "shuffle_bytes")
OUTER = ("calls", "s", "self_s")
PLAN = ("calls", "s")
LAYERS = {
    "plans.pipeline.PastaPipeline.run_batch": EXEC,
    "plans.pipeline.PastaPipeline.run_maintenance": OUTER,
    "operators.maintenance.run_full_cleanup": EXEC,
    "sources.tables.TableStore.read": ("calls", "s", "jobs"),
    "sources.tables.TableStore.overwrite": EXEC,
    "sources.tables.TableStore.merge_partitioned": EXEC,
    "sources.fetch.fetch_links": PLAN,
    "operators.merge.merge_upsert": PLAN,
    "operators.merge.upsert_accumulate": PLAN,
    "operators.antijoin.select_unprocessed_links": PLAN,
    "operators.text_dedup.minhash_lsh_pairs": EXEC,
    "operators.dedup.dedup_exact": ("calls", "s", "jobs", "tasks", "shuffle_bytes"),
    "operators.similarity.semantic_dedup_auto": EXEC,
    "operators.similarity.knn_join": EXEC,
    "plans.training_data.prepare_training_corpus": EXEC,
    "streaming.sink.foreach_batch_merge": OUTER,
    "streaming.dedup.incremental_lsh_dedup": OUTER,
    "streaming.dedup.lsh_index_batch": EXEC,
}
#: Functions the program calls internally: wrapped by monkeypatching.
#: (module, attribute, class or None); the rest are spans the workloads
#: open around their own calls.
PATCHED = (
    ("pasta_pipeline_spark.sources.tables", "TableStore", "read"),
    ("pasta_pipeline_spark.sources.tables", "TableStore", "overwrite"),
    ("pasta_pipeline_spark.sources.tables", "TableStore", "merge_partitioned"),
    ("pasta_pipeline_spark.sources.fetch", "fetch_links", None),
    ("pasta_pipeline_spark.operators.merge", "merge_upsert", None),
    ("pasta_pipeline_spark.operators.merge", "upsert_accumulate", None),
    ("pasta_pipeline_spark.operators.antijoin", "select_unprocessed_links", None),
    ("pasta_pipeline_spark.operators.maintenance", "run_full_cleanup", None),
    ("pasta_pipeline_spark.streaming.dedup", "lsh_index_batch", None),
)
EXTRA_LAYER = {
    "sources.tables.bytes_written": ("bytes", "lower"),
    "sources.tables.files_written": ("count", "lower"),
    "sources.fetch.attempts_per_url": ("count", "lower"),
    "sources.fetch.success_frac": ("ratio", "higher"),
    "operators.text_dedup.pairs_per_doc": ("ratio", "lower"),
    "streaming.sink.batch_s": ("s", "lower"),
    "session.jvm_start_s": ("s", "lower"),
    "session.warmup_s": ("s", "lower"),
    "perfbench.trace_overhead_s": ("s", "lower"),
}
STAT_UNIT = {"calls": "count", "s": "s", "self_s": "s", "jobs": "count", "tasks": "count",
             "shuffle_bytes": "bytes"}
END_TO_END = {
    "setup_s": "s", "rows_per_s": "1/s", "job_s.p50": "s", "job_s.tail": "s",
    "recall": "ratio", "write_amp": "ratio", "space_amp": "ratio", "peak_rss_mb": "MiB",
}


def layer_metric_names() -> dict[str, tuple[str, str]]:
    """Every per-layer metric name -> (unit, better)."""
    out = {f"{fn}.{st}": (STAT_UNIT[st], "lower") for fn, stats in LAYERS.items() for st in stats}
    out.update(EXTRA_LAYER)
    return out


def _pin_environment(work: str) -> int:
    """One CPU per available core, every scratch directory under
    ``work``, the package importable by Python workers. Runs before the
    package is imported: it reads ``SPARK_GRAFT_CPUS`` at import time."""
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # Under the program's default 8 GiB heap the JVM's resident set follows
    # GC timing: over ten seeds on a 4-core VM, peak_rss_mb spread 0.29 of
    # its median on corpus_curation, against 0.05-0.14 with 2 GiB.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.pop("SPARK_GRAFT_CONF", None)
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    return cpus


def _session(work: str, traced: bool):
    from pasta_pipeline_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no hsperfdata file under /tmp
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        conf.update({
            "spark.ui.enabled": "true",
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _children(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            if ppid == pid:
                out.append(int(entry))
    return out


def _stop(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    family = []
    if proc is not None:
        family = [proc.pid, *_children(proc.pid)]
        family += [c for p in family[1:] for c in _children(p)]
    spark.stop()
    if proc is None:
        return
    gw.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in family[1:]):
        time.sleep(0.1)


def _trace_pass(spark, workload, seed: int, n_jobs: int, work: str, untraced_wall: float,
                name: str):
    """The same inputs and job count again on fresh tables, with spans on
    (the warm-up unit stays untraced)."""
    import importlib

    from spans import Tracer
    from workloads import Ctx

    tracer = Tracer(spark, enabled=True)
    for mod_name, attr, meth in PATCHED:
        mod = importlib.import_module(mod_name)
        if meth is None:
            tracer.patch(getattr(mod, attr), f"{mod_name[len('pasta_pipeline_spark.'):]}.{attr}")
        else:
            tracer.patch_method(getattr(mod, attr),
                                meth, f"{mod_name[len('pasta_pipeline_spark.'):]}.{attr}.{meth}")
    ctx = Ctx(spark, tracer, os.path.join(work, "traced"))
    try:
        res = workload(ctx, seed, n_jobs=n_jobs)
    finally:
        tracer.unpatch()
    stats = tracer.layer_stats(tracer.shuffle_bytes_by_stage())
    trace_dir = os.path.join(ROOT, ".perfbench", "traces")
    os.makedirs(trace_dir, exist_ok=True)
    tracer.dump(os.path.join(trace_dir, f"{name}-seed{seed}.jsonl"))
    metrics = {}
    for fn, keep in LAYERS.items():
        for st in keep:
            metrics[f"{fn}.{st}"] = float(stats.get(fn, {}).get(st, 0.0))
    metrics["sources.tables.bytes_written"] = float(ctx.ledger.bytes)
    metrics["sources.tables.files_written"] = float(ctx.ledger.files)
    metrics["perfbench.trace_overhead_s"] = res.wall_s - untraced_wall
    return res, metrics


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    cpus = _pin_environment(work)
    sys.path[:0] = [ROOT, HERE]
    try:
        import pasta_pipeline_spark  # noqa: F401
        import pyspark
    except ImportError as exc:
        print(f"perfbench: cannot import the program under test: {exc}", file=sys.stderr)
        return 2
    import workloads
    from measure import disk_bytes, latency_summary, live_bytes, vm_hwm_mb
    from spans import Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    workload = workloads.WORKLOADS[args.workload]
    for sub in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = _session(work, traced=bool(args.trace))
        jvm_start_s = time.perf_counter() - t0
        ctx = workloads.Ctx(spark, Tracer(spark, enabled=False), os.path.join(work, "timed"))
        res = workload(ctx, args.seed, seconds=args.seconds)
        warmup_s = res.warm_s
        if not res.job_s:
            print("perfbench: no timed job completed", file=sys.stderr)
            return 1
        from pyspark import SparkContext

        rss = vm_hwm_mb() + vm_hwm_mb(SparkContext._gateway.proc.pid)
        live = sum(live_bytes(s) for s in res.stores) + sum(
            disk_bytes(d) for d in res.extra_dirs
        )
        lat = latency_summary(res.job_s)
        e2e = {
            "setup_s": jvm_start_s + warmup_s,
            "rows_per_s": res.rows / res.wall_s,
            "job_s.p50": lat["p50"],
            "job_s.tail": lat["tail"],
            "recall": res.recall_found / max(res.recall_planted, 1),
            "write_amp": ctx.ledger.bytes / res.input_bytes,
            "space_amp": disk_bytes(ctx.path("tables")) / live,
            "peak_rss_mb": rss,
        }
        attempted, failed = res.attempted, res.failed
        if args.trace:
            tres, metrics = _trace_pass(spark, workload, args.seed, len(res.job_s), work,
                                        res.wall_s, args.workload)
            metrics.update({k: float(v) for k, v in tres.counters.items()})
            metrics["session.jvm_start_s"] = jvm_start_s
            metrics["session.warmup_s"] = warmup_s
            for name in EXTRA_LAYER:
                metrics.setdefault(name, 0.0)
            attempted += tres.attempted
            failed += tres.failed
            units = layer_metric_names()
        else:
            metrics = e2e
            units = {k: (u, None) for k, u in END_TO_END.items()}
        java = spark.sparkContext._jvm.System.getProperty("java.version")
        print(json.dumps({
            "perfbench": args.workload, "seed": args.seed, "cpus": cpus,
            "pyspark": pyspark.__version__, "java": java, "rows": res.rows,
            "jobs": lat["n"], "job_s.tail_percentile": lat["tail_pct"],
            "job_s": [round(x, 3) for x in res.job_s],
            "jvm_start_s": round(jvm_start_s, 3), "warmup_s": round(warmup_s, 3),
            "timed_s": round(res.wall_s, 3), "recall_planted": res.recall_planted,
            "ops_failed_frac": failed / max(attempted, 1),
            "end_to_end": {k: round(v, 6) for k, v in e2e.items()},
        }))
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k][0]} for k, v in metrics.items()},
        }))
        return 0
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
