"""Shared fixtures: one SparkSession per test run, and a DuckDB oracle
comparator mirroring the driver's correctness gate (row-count + schema
column names + order-insensitive value comparison)."""

from __future__ import annotations

import math
import os

import duckdb
import pytest

from grafeo_memory_spark.session import get_spark
from grafeo_memory_spark.sources.tables import DRIVER_TABLES

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# Smoke tier (r13): the default `pytest tests/` run must finish inside
# an external ~5-6 minute CI window (the full suite is 60-90 min and
# was timing out mid-run, leaving no green/red signal at all). The
# first cut (24 modules, ~4 min measured on the r13 build box) blew
# the window the moment the round moved to a slower host: the same
# selection measured 12-14 min there (fresh VM, 8-11% steal, several
# tests 10-40x their recorded durations). This tier is therefore sized
# for a DEGRADED box, not a clean one: the modules below measure
# ~2.5 min on the slow host, leaving half the window as stall margin.
# Membership favors signal per second — the oracle-contract rows, the
# citation checks, and the parity/plan-shape tests that pin the r12 and
# r13 optimization rewrites (minhash map-only, span-dedup map-side
# rebuild, lm explode_outer scores, k-core driver peel). Everything not
# listed is auto-marked `slow` below and deselected by pytest.ini's
# addopts; run the full suite with `-m "slow or not slow"`.
SMOKE_FILES = {
    "test_citations.py",
    "test_decontamination.py",
    "test_lm.py",
    "test_local_frames.py",
    "test_new_driver_rows.py",
    "test_plan_shapes.py",
    "test_schemas.py",
    "test_span_dedup.py",
}

# Individually slow tests inside smoke modules (each ≥ ~30 s solo on
# the slow host — they'd eat most of the window on their own; all
# remain in the full suite).
SLOW_TESTS = {
    "test_no_cartesian_products_anywhere",
    "test_near_dedup_no_cartesian_and_anti_join_keep",
}

# Individual fast tests from otherwise-slow modules that pin an
# optimization's semantics and belong in the smoke signal.
SMOKE_TESTS = {
    "test_k_core_driver_helper_matches_k_core",
    "test_minhash_maponly_matches_explode_groupby",
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        smoke = (
            os.path.basename(str(item.fspath)) in SMOKE_FILES
            and item.name not in SLOW_TESTS
        ) or item.name in SMOKE_TESTS
        if not smoke:
            item.add_marker(pytest.mark.slow)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="grafeo-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in DRIVER_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 6)
    return v


def _norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    return sorted(cols), sorted(out, key=repr)


def assert_matches_oracle(spark_df, duck_con, sql):
    """Driver-style compare: same column names, same multiset of values."""
    s_cols = sorted(spark_df.columns)
    s_rows = [tuple(r) for r in spark_df.collect()]
    rel = duck_con.sql(sql)
    d_cols = sorted(rel.columns)
    d_rows = rel.fetchall()
    assert s_cols == d_cols, f"schema mismatch: {s_cols} vs {d_cols}"
    sc, sr = _norm_rows(spark_df.columns, s_rows)
    dc, dr = _norm_rows(rel.columns, d_rows)
    assert len(sr) == len(dr), f"row count {len(sr)} vs {len(dr)}"
    assert sr == dr, (
        f"value mismatch; first spark={sr[:3]} duck={dr[:3]}"
    )


def supersede(eng, memory_id, text, *, user_id="u"):
    """Drive the reconciler's UPDATE *decision* path (soft-expire +
    SUPERSEDES + inherit, `lifecycle.py` UPDATE branch) directly —
    distinct from the public in-place ``engine.update()`` (reference
    `_update` vs decision execution split, reference
    `manager.py:836-855` / decision branch)."""
    from grafeo_memory_spark.lifecycle import Decision, execute_decisions

    eng.store, res, eng._next_node_id, eng._next_edge_id = execute_decisions(
        eng.store,
        [Decision("UPDATE", text, target_memory_id=memory_id)],
        eng.embedder,
        user_id=user_id,
        now_ms=eng._now_fn(),
        next_node_id=eng._next_node_id,
        next_edge_id=eng._next_edge_id,
    )
    eng._graph_dirty = True
    return res
