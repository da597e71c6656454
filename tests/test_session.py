"""session.scoped_conf and session.scoped_sql: the engine's scoped ways
to change session state (SQL conf, temp views)."""

from __future__ import annotations

import pytest

from diachronic_spark.session import scoped_conf, scoped_sql

SET_KEY = "spark.sql.adaptive.enabled"
# a registered conf with a default that the engine never sets
# session-wide: get(k, None) is None only while it is unset
UNSET_KEY = "spark.sql.sources.parallelPartitionDiscovery.threshold"


def _state(spark):
    return spark.conf.get(SET_KEY, None), spark.conf.get(UNSET_KEY, None)


def test_scoped_conf_restores_set_key_and_unsets_unset_key(spark):
    before = _state(spark)
    assert before[0] is not None and before[1] is None
    with scoped_conf(spark, {SET_KEY: "false", UNSET_KEY: "99"}):
        assert _state(spark) == ("false", "99")
    assert _state(spark) == before
    assert UNSET_KEY not in spark.conf.getAll


def test_scoped_conf_restores_when_the_body_raises(spark):
    before = _state(spark)
    with pytest.raises(RuntimeError, match="body failed"):
        with scoped_conf(spark, {SET_KEY: "false", UNSET_KEY: "99"}):
            raise RuntimeError("body failed")
    assert _state(spark) == before
    assert UNSET_KEY not in spark.conf.getAll


def _temp_views(spark):
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def test_scoped_sql_leaves_no_view_and_keeps_a_persisted_frame_cached(spark):
    """PySpark's own ``spark.sql(text, t=df)`` drops its view through
    ``Catalog.dropTempView``, which uncaches ``df``; scoped_sql must
    keep the frame cached and read it from the cache."""
    views = _temp_views(spark)
    df = spark.range(10).selectExpr("id", "id * 2 AS x").persist()
    try:
        df.count()
        out = scoped_sql(spark, "SELECT sum(x) AS s FROM {t}", t=df)
        assert _temp_views(spark) == views
        assert out.first()["s"] == 90
        assert df.storageLevel.useMemory
        cached = out._jdf.queryExecution().withCachedData().toString()
        assert "InMemoryRelation" in cached
    finally:
        df.unpersist()


def test_scoped_sql_drops_its_views_when_analysis_fails(spark):
    views = _temp_views(spark)
    with pytest.raises(Exception, match="no_such_col"):
        scoped_sql(spark, "SELECT no_such_col FROM {t}", t=spark.range(3))
    assert _temp_views(spark) == views
