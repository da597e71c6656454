"""Every declared query vs its DuckDB oracle on the local testdata.

This is a local pre-run of the driver's t2 gate (sf0.01 there; sf0.001
here for speed — set SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.01 to
reproduce the gate exactly).

Each query must also leave the shared session as it found it: no
temporary view and no SQL conf change may outlive the query, or it
would change the environment of the next query on the session.
"""

from __future__ import annotations

import os

import pytest

from diachronic_spark.plans import ORACLE, QUERIES

from .oracle_harness import compare, duckdb_conn


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb_conn(sf_dir)
    yield c
    c.close()


def _session_state(spark):
    """The session state one query could leave behind for the next: its
    temporary view names and its SQL conf entries (``key -> value``).
    Permanent tables are left out, as some queries stage sf-tagged
    tables on purpose (q148). One JVM call each: ``catalog.listTables``
    and ``conf.getAll`` cost 25-125 ms a call through py4j."""
    state = spark._jsparkSession.sessionState()
    views = state.catalog().getTempViewNames().mkString("\n")
    conf = state.conf().getAllConfs().mkString("\n")
    return set(views.split("\n")) - {""}, set(conf.split("\n"))


def _state_leaks(spark, before) -> str:
    """Describe how the session differs from ``before``; "" if not."""
    leaks = []
    for what, old, now in zip(
        ("temp views", "conf entries"), before, _session_state(spark)
    ):
        if now != old:
            leaks.append(
                f"{what} added {sorted(now - old)}, "
                f"removed {sorted(old - now)}"
            )
    return "; ".join(leaks)


@pytest.mark.parametrize("name", sorted(ORACLE, key=lambda n: (len(n), n)))
def test_query_matches_oracle(name, spark, sf_dir, con):
    before = _session_state(spark)
    df = QUERIES[name](spark, sf_dir)
    ok, msg = compare(df, con, ORACLE[name])
    assert ok, f"{name}: {msg}"
    leaks = _state_leaks(spark, before)
    assert not leaks, f"{name} left session state behind: {leaks}"


def test_all_oracle_keys_have_queries():
    # both ways: a query without an oracle would skip the parity and
    # session-state checks above
    no_query = set(ORACLE) - set(QUERIES)
    no_oracle = set(QUERIES) - set(ORACLE)
    assert not no_query, f"oracle entries without query impls: {no_query}"
    assert not no_oracle, f"queries without an oracle: {no_oracle}"


@pytest.mark.parametrize("name", ["q92", "q98"])
def test_query_matches_oracle_at_sf001(name, spark, sf_dir):
    """q92 and q98 return no rows at sf0.001, where the parity test
    above compares two empty results; sf0.01 gives them rows."""
    sf001 = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    if not os.path.isdir(sf001):
        pytest.skip(f"{sf001} absent")
    con = duckdb_conn(sf001)
    try:
        df = QUERIES[name](spark, sf001)
        ok, msg = compare(df, con, ORACLE[name])
    finally:
        con.close()
    assert ok, f"{name}: {msg}"
    assert df.count() > 0, f"{name} is empty at {sf001}"
