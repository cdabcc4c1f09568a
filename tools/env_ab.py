"""Interleaved same-session A/B of an ENV toggle read at
plan-construction time (guide §1).

Alternating within-pair order per round, so codegen-cache warmth
cancels. Two properties matter:

- the toggle is an os.environ key the OPERATORS read while building
  the plan (so code-path changes, not just runtime SQL confs, can be
  A/B'd in one session);
- the timed region covers query CONSTRUCTION plus the noop write.
  Timing only the final action silently excludes the eager work
  (calibration counts, GD-step localCheckpoints) that driver-paced
  queries do inside spark_fn; the r13 floor change looked like a win
  under that bias and regressed when measured end to end.

Usage:
  python tools/env_ab.py KEY=valueA KEY=valueB query [query ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    key_a, val_a = sys.argv[1].split("=", 1)
    key_b, val_b = sys.argv[2].split("=", 1)
    assert key_a == key_b, "both sides must toggle the same env key"
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    rounds = int(os.environ.get("AB_ROUNDS", "4"))

    from pasta_pipeline_spark.operators.util import release_cached_deps
    from pasta_pipeline_spark.queries.catalog import REGISTRY
    from pasta_pipeline_spark.session import get_spark

    spark = get_spark("env-ab")
    spark.sparkContext.setLogLevel("ERROR")

    def run(name: str) -> float:
        t0 = time.time()
        df = REGISTRY[name].spark_fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        sec = time.time() - t0
        release_cached_deps(df)
        return sec

    warm = "/root/testdata/sf0.001"
    for side in (val_a, val_b):
        os.environ[key_a] = side
        for name in names:
            df = REGISTRY[name].spark_fn(spark, warm)
            df.write.format("noop").mode("overwrite").save()
            release_cached_deps(df)

    a: dict[str, list[float]] = {n: [] for n in names}
    b: dict[str, list[float]] = {n: [] for n in names}
    for r in range(rounds):
        for name in names:
            first, second = ((val_a, a), (val_b, b)) if r % 2 == 0 else (
                (val_b, b),
                (val_a, a),
            )
            for val, store in (first, second):
                os.environ[key_a] = val
                store[name].append(run(name))
    print(f"A: {key_a}={val_a!r}  B: {key_a}={val_b!r}  (min of {rounds})")
    print(f"{'query':30s} {'A_min':>7s} {'B_min':>7s} {'B/A':>6s}")
    for name in names:
        ra, rb = min(a[name]), min(b[name])
        print(f"{name:30s} {ra:7.3f} {rb:7.3f} {rb/ra:6.2f}")


if __name__ == "__main__":
    main()
