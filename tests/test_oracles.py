"""Registry queries against their DuckDB oracles on the smallest scale
factor: the per-query comparison of ``scripts/check_oracles.py``, run
for the drift estimators, the duplicate-conversation check and the
suite verdicts — plus the boundary queries on a hand-made table."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as e
from scripts.check_oracles import compare, connect

QUERIES = (
    "drift_frequencies",
    "length_histogram",
    "ks_drift",
    "chi2_drift",
    "js_drift",
    "vocab_drift",
    "wasserstein_drift",
    "quantile_shift",
    "psi_by_group",
    "snapshot_diff",
    "conv_dups",
    "suite_verdicts",
)


def test_every_query_has_an_oracle():
    """The registry pairs each driver query with one DuckDB oracle and
    nothing else: no query without an oracle, no oracle without a
    query, and no exemption list."""
    assert set(e.queries()) == set(e.oracle_sql())
    assert e._NO_ORACLE == ()


@pytest.fixture(scope="module")
def con():
    c = connect(e.DEFAULT_SF_DIR)
    yield c
    c.close()


@pytest.mark.parametrize("name", QUERIES)
def test_query_matches_oracle(spark, con, name):
    n, problems = compare(spark, con, e.DEFAULT_SF_DIR, name)
    assert not problems, problems
    assert n > 0


@pytest.mark.parametrize("name", ("boundary_census", "boundary_violations"))
def test_boundary_oracle_null_first_status(spark, tmp_path, name):
    """A NULL status at a conversation's first (or last) order is that
    boundary's value, ``'__null__'``, on both engines: the oracle
    coalesces before ``arg_min``/``arg_max``, which skip NULL values."""
    pd.DataFrame(
        {
            "o_custkey": [1, 1, 2, 2, 3, 3],
            "o_orderkey": [1, 2, 3, 4, 5, 6],
            "o_orderstatus": [None, "F", "O", None, "O", "F"],
        }
    ).to_parquet(tmp_path / "orders.parquet")
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW orders AS SELECT * FROM '{tmp_path}/orders.parquet'"
    )
    n, problems = compare(spark, con, str(tmp_path), name)
    con.close()
    assert not problems, problems
    assert n > 0


@pytest.mark.parametrize("name", ("asof_join", "asof_join_skew"))
def test_asof_oracle_null_value_at_max_event(spark, tmp_path, name):
    """A NULL ``value`` on the tie group's max ``event_id`` is that
    error's value on both engines: Spark's ``max_by`` keeps it, and the
    oracle's ``arg_max`` over a one-field struct must not skip it."""
    pd.DataFrame(
        {
            "event_id": [1, 2, 3, 4, 5, 6],
            "ts": pd.to_datetime(
                ["2024-01-01 00:00", "2024-01-01 00:00", "2024-01-01 00:05",
                 "2024-01-01 00:00", "2024-01-01 00:00", "2024-01-01 00:05"]
            ).astype("datetime64[us]"),
            "user_id": [7, 7, 7, 10, 10, 10],
            "event_type": ["error", "error", "click"] * 2,
            "value": [1.5, None, 3.0, None, 2.5, 4.0],
        }
    ).to_parquet(tmp_path / "events.parquet")
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW events AS SELECT * FROM '{tmp_path}/events.parquet'"
    )
    n, problems = compare(spark, con, str(tmp_path), name)
    con.close()
    assert not problems, problems
    assert n > 0
