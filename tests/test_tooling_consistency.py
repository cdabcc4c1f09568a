"""Tooling-list consistency: every query name the plan audit's
allowlist references must exist in the registry — a rename or a split
that orphans a tooling list should fail HERE, not at audit time — and
the oracle gate's corpora stay inside the LSH calibration anchor."""

from __future__ import annotations

import os
import sys

TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")


def test_plan_audit_allowlist_registered():
    sys.path.insert(0, TOOLS)
    import plan_audit

    from pasta_pipeline_spark.queries.catalog import REGISTRY

    missing = [q for q in plan_audit.SCALAR_CROSSJOIN_OK if q not in REGISTRY]
    assert missing == []


def test_gate_corpora_within_lsh_calibration():
    """Every oracle-gated catalog query that passes num_planes=None
    replays FIXED plane constants in its DuckDB twin; parity holds
    because auto_lsh_config resolves to the base config at the gate
    corpus sizes. If a gate fixture ever outgrows LSH_CALIBRATED_N the
    oracle would mismatch with an opaque hash diff — fail HERE instead,
    with a message naming the recipe (the r9 advisor finding)."""
    import duckdb

    from pasta_pipeline_spark.operators.similarity import LSH_CALIBRATED_N

    for sf in ("0.001", "0.01"):
        n = duckdb.sql(
            f"SELECT count(*) FROM '/root/testdata/sf{sf}/embeddings.parquet'"
        ).fetchone()[0]
        assert n <= LSH_CALIBRATED_N, (
            f"sf{sf} embeddings corpus ({n} rows) outgrew LSH_CALIBRATED_N "
            f"({LSH_CALIBRATED_N}): auto_lsh_config will resolve past the "
            "base (planes, bands) and every fixed-plane-constant oracle "
            "(semantic_dedup, hard_negatives, cosine_dup_lsh, ...) will "
            "hash-mismatch. Either re-pin the oracles or raise the "
            "calibration anchor deliberately."
        )
