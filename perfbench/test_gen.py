"""The generators are deterministic: the same seed gives byte-identical
inputs, also in a fresh interpreter with another hash seed; another
seed gives other inputs.

    python -m pytest perfbench/test_gen.py -q
"""

from __future__ import annotations

import hashlib
import os
import pickle
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402


def inputs_digest(seed: int) -> str:
    """sha256 over every input the benchmark builds from ``seed``: three
    ETL days with their fetch fixtures, two corpus shards, six stream
    drops."""
    etl = gen.EtlInputs(seed, batch_rows=300)
    days = [etl.batch(d) for d in range(3)]
    shards = [gen.CorpusShard(seed, k, n_docs=150, n_vecs=100) for k in range(2)]
    stream = gen.StreamInputs(seed, rows_per_file=100)
    drops = [stream.file() for _ in range(6)]
    blob = pickle.dumps(
        (
            days, sorted(etl.responses.items()),
            [(s.docs, s.vectors, s.queries, s.benchmark) for s in shards],
            drops, stream.planted,
        ),
        protocol=4,
    )
    return hashlib.sha256(blob).hexdigest()


def test_same_seed_same_bytes():
    assert inputs_digest(7) == inputs_digest(7)


def test_same_seed_same_bytes_across_processes():
    code = f"import sys; sys.path.insert(0, {HERE!r}); import test_gen; print(test_gen.inputs_digest(7))"
    env = dict(os.environ, PYTHONHASHSEED="123")
    out = subprocess.run([sys.executable, "-c", code], env=env, capture_output=True,
                         text=True, check=True, timeout=120)
    assert out.stdout.strip() == inputs_digest(7)


def test_other_seed_other_bytes():
    assert inputs_digest(7) != inputs_digest(8)


def test_inputs_have_the_planted_properties():
    etl = gen.EtlInputs(3, batch_rows=500)
    first, second = etl.batch(0), etl.batch(1)
    first_ids = {r[0] for r in first}
    replays = sum(1 for r in second if r[0] in first_ids)
    assert 0.05 * len(second) < replays < 0.15 * len(second)
    kinds = set(map(str, etl.kind.values()))
    assert {"ok", "404", "503", "-1", "big", "mirror"} <= kinds
    assert any("#" in r[2] and any("а" <= ch <= "я" for ch in r[2]) for r in first)
    stream = gen.StreamInputs(3, rows_per_file=200)
    rows = [r for _ in range(5) for r in stream.file()]
    assert len({r[0] for r in rows}) < len(rows)  # updates and redeliveries
    assert stream.planted
