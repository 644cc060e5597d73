"""Pins the driver-facing registry: the set of declared query names and,
per query, the sha256 of its DuckDB oracle SQL (null when it has none).

A change to either is then a visible diff of ``registry_snapshot.json``
rather than a silent drift. Regenerate the fixture only when a query or
an oracle is changed on purpose:

    python -c "import json, tests.test_registry_snapshot as t; \\
        json.dump(t.live_snapshot(), open(t.FIXTURE, 'w'), indent=1, sort_keys=True)"
"""

from __future__ import annotations

import hashlib
import json
import os

import pytest

from datalake_breweries_two_spark import entry_queries
from datalake_breweries_two_spark.entry_queries import ORACLE_SQL, QUERIES

FIXTURE = os.path.join(os.path.dirname(__file__), "registry_snapshot.json")


def live_snapshot() -> dict[str, str | None]:
    return {
        name: hashlib.sha256(ORACLE_SQL[name].encode()).hexdigest()
        if name in ORACLE_SQL
        else None
        for name in sorted(QUERIES)
    }


def test_registry_matches_snapshot():
    with open(FIXTURE) as f:
        pinned = json.load(f)
    live = live_snapshot()
    assert sorted(live) == sorted(pinned), (
        "added:", sorted(set(live) - set(pinned)),
        "removed:", sorted(set(pinned) - set(live)),
    )
    changed = sorted(n for n in pinned if live[n] != pinned[n])
    assert not changed, f"oracle SQL changed for {changed}"
    assert set(ORACLE_SQL) <= set(QUERIES), "oracle for an unregistered query"


def test_query_decorator_registers_and_rejects_duplicates(monkeypatch):
    monkeypatch.setattr(entry_queries, "QUERIES", {})
    monkeypatch.setattr(entry_queries, "ORACLE_SQL", {})

    def q_probe(spark, sf_dir):
        return None

    assert entry_queries.query(oracle="SELECT 1")(q_probe) is q_probe
    assert entry_queries.QUERIES == {"q_probe": q_probe}
    assert entry_queries.ORACLE_SQL == {"q_probe": "SELECT 1"}

    def q_probe(spark, sf_dir):  # noqa: F811 - same name on purpose
        return None

    with pytest.raises(ValueError, match="q_probe"):
        entry_queries.query()(q_probe)
    assert entry_queries.ORACLE_SQL == {"q_probe": "SELECT 1"}

    def q_rows_only(spark, sf_dir):
        return None

    entry_queries.query()(q_rows_only)
    assert "q_rows_only" in entry_queries.QUERIES
    assert "q_rows_only" not in entry_queries.ORACLE_SQL
