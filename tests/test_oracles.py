"""Registry queries against their DuckDB oracles on the smallest scale
factor: the per-query comparison of ``scripts/check_oracles.py``, run
for the drift estimators, the duplicate-conversation check and the
suite verdicts."""

from __future__ import annotations

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
