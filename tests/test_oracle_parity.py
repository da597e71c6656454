"""Every declared query vs its DuckDB oracle on the local testdata.

This is a local pre-run of the driver's t2 gate (sf0.01 there; sf0.001
here for speed — set SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.01 to
reproduce the gate exactly).

Each query must also leave the shared session as it found it: no
temporary view and no SQL conf change may outlive the query, or it
would change the environment of the next query on the session.
"""

from __future__ import annotations

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
    missing = set(ORACLE) - set(QUERIES)
    assert not missing, f"oracle entries without query impls: {missing}"


def test_rows_only_queries_run(spark, sf_dir):
    # queries without an oracle (engine-internal inputs) must still run
    leaks = {}
    for name in sorted(set(QUERIES) - set(ORACLE)):
        before = _session_state(spark)
        df = QUERIES[name](spark, sf_dir)
        assert df.count() >= 0, name
        leak = _state_leaks(spark, before)
        if leak:
            leaks[name] = leak
    assert not leaks, f"queries left session state behind: {leaks}"
