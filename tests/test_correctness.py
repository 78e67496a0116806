"""t2 correctness: every registered query with an oracle hash-matches
DuckDB at sf0.01 (the driver's CORRECTNESS gate, run locally)."""

from __future__ import annotations

import pytest

from s4_spark.queries import REGISTRY
from tests.conftest import (
    SF_DIR,
    assert_no_leaks,
    assert_oracle_match,
    session_snapshot,
)

ORACLED = sorted(n for n, q in REGISTRY.items() if q.oracle is not None)
SMOKE_ONLY = sorted(n for n, q in REGISTRY.items() if q.oracle is None)


@pytest.mark.parametrize("name", ORACLED)
def test_oracle_match(spark, duck, name):
    qd = REGISTRY[name]
    before = session_snapshot(spark)
    df = qd.fn(spark, SF_DIR)
    assert_oracle_match(df, duck, qd.oracle, name=name)
    assert_no_leaks(spark, name, before)


@pytest.mark.parametrize("name", SMOKE_ONLY)
def test_smoke_rows(spark, name):
    qd = REGISTRY[name]
    before = session_snapshot(spark)
    df = qd.fn(spark, SF_DIR)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0
    assert_no_leaks(spark, name, before)


def test_q163_observed_metrics_match(spark, duck):
    """The Observation metrics attached to q163 must equal the oracle's
    independent counts — metrics ride the result's single scan."""
    from s4_spark.queries import REGISTRY

    qd = REGISTRY["q163_observed_metrics"]
    qd.fn(spark, SF_DIR).collect()
    from s4_spark.queries.aggregates import q163

    got = q163.last_observation.get
    want = duck.sql(
        "SELECT count(*) AS rows_scanned,"
        " sum(CASE WHEN o_totalprice > 1000 THEN 1 ELSE 0 END) AS rows_kept"
        " FROM orders"
    ).fetchone()
    assert got["rows_scanned"] == want[0], got
    assert got["rows_kept"] == want[1], got
