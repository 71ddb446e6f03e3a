"""Catalog contract tests: every declared query runs at sf0.001,
returns a schema-stable DataFrame, and a sampled subset hash-matches
its DuckDB oracle (the full matrix runs in tools/check_correctness.py
and the driver's t2 gate).
"""

from __future__ import annotations

import json

import duckdb
import pytest

from etl_energy_tracker_spark.queries import catalog
from etl_energy_tracker_spark.sources.registry import TABLES

from conftest import SF_DIR

QUERIES = catalog.queries()
ORACLES = catalog.oracle_sql()

# fast-but-representative subset for the per-test oracle comparison
ORACLE_SAMPLE = [
    "q1_pricing_summary",
    "filter_latest_day",
    "keep_last_dedup",
    "session_differencing",
    "linking_profile_hash",
    "text_fingerprint",
    "ann_cosine_topk",
    "expand_hourly_to_15min",
]


def _duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def test_catalog_is_populated():
    assert len(QUERIES) >= 40
    # every oracle key matches a query key
    assert set(ORACLES) <= set(QUERIES)


@pytest.fixture
def scratch_ledger(tmp_path, monkeypatch):
    """A ledger outside the package that holds every catalog name at
    its current digest."""
    monkeypatch.setattr(catalog, "LEDGER", tmp_path / "verified.json")
    catalog.mark_verified(list(catalog.CATALOG), [])
    return catalog.LEDGER


def test_priority_queue_names_resolve():
    # a typo in the verified-digest ledger would silently reorder the
    # driver's capped run: every name it holds, and every stale name
    # emitted first, must be a real query
    names = list(catalog.CATALOG)
    assert set(json.loads(catalog.LEDGER.read_text())) <= set(names)
    assert set(catalog.stale_names()) <= set(names)
    # and the emit order is a permutation of the catalog (no dupes/drops)
    assert sorted(QUERIES) == sorted(names)
    assert set(ORACLES) <= set(names)


def test_verified_freeze_is_current(scratch_ledger):
    """tools/check_correctness.py freezes each green at its current
    digest through mark_verified() and drops each failure, so the
    ledger cannot fall behind the last check."""
    names = list(catalog.CATALOG)
    assert catalog.stale_names() == []
    new, changed = names[len(names) // 2], names[-1]
    catalog.mark_verified([], [new, changed])
    ledger = json.loads(scratch_ledger.read_text())
    assert new not in ledger and changed not in ledger
    assert catalog.stale_names() == [new, changed]
    catalog.mark_verified([changed], [])
    assert catalog.stale_names() == [new]


def test_frozen_names_pruned_from_priority(scratch_ledger):
    """A verified name is never emitted before a stale one: a wrong or
    missing digest puts exactly that name first, and the verified names
    follow in registration order."""
    names = list(catalog.CATALOG)
    new, changed = names[len(names) // 2], names[-1]
    ledger = json.loads(scratch_ledger.read_text())
    ledger[changed] = "0" * 16
    del ledger[new]
    scratch_ledger.write_text(json.dumps(ledger))
    assert catalog.stale_names() == [new, changed]
    rest = [n for n in names if n not in (new, changed)]
    assert list(catalog.queries()) == [new, changed, *rest]
    assert list(catalog.oracle_sql())[:2] == [new, changed]


# Fast-tier smoke set for the per-query build-and-run check: the
# headline bench queries (they span every operator family: TPC-H,
# dedup, windows, text, ANN, streaming drives, parity pipelines,
# multimodal). The other ~355 query runs are `slow` — they re-run in
# the full tier and the full catalog is oracle-checked by
# tools/check_correctness.py anyway, so the fast tier loses no
# verification the driver's gate doesn't already provide.
import bench as _bench  # noqa: E402  (repo root is on sys.path)

_FAST_QUERY_RUNS = frozenset(_bench.HEADLINE)


@pytest.mark.parametrize(
    "name",
    [
        pytest.param(
            n, marks=() if n in _FAST_QUERY_RUNS else (pytest.mark.slow,)
        )
        for n in sorted(QUERIES)
    ],
)
def test_query_runs(spark, name):
    df = QUERIES[name](spark, SF_DIR)
    assert df.columns, name
    assert df.count() >= 0


@pytest.mark.parametrize("name", ORACLE_SAMPLE)
def test_query_matches_oracle(spark, name):
    import sys

    sys.path.insert(0, "/root/repo/tools")
    from check_correctness import frame_digest

    sdf = QUERIES[name](spark, SF_DIR)
    srows = [tuple(r) for r in sdf.collect()]
    con = _duck()  # keep the connection alive while the relation is read
    rel = con.sql(ORACLES[name])
    orows = rel.fetchall()
    assert len(srows) == len(orows), name
    assert frame_digest(sdf.columns, srows) == frame_digest(rel.columns, orows), name
