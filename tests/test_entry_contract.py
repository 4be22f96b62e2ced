"""Smoke tests for the driver contract (__spark_entry__)."""

from __future__ import annotations

import __spark_entry__ as entrymod


def test_entry_runs(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 1
    assert "sum_qty" in df.columns


def test_queries_and_oracles_aligned():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert len(qs) >= 40
    # every oracle key must have a query
    assert set(oracles) <= set(qs)


def test_each_query_runs_smoke(built_queries):
    for name, df in built_queries.items():
        if isinstance(df, Exception):
            raise df
        assert df.schema is not None, name
        assert df.limit(1).count() >= 0, name


def test_sql_surface_via_registered_views(spark, sf_dir):
    """Catalog tables registered as temp views serve raw spark.sql —
    the interface a SQL-first user drives — and results match the
    DataFrame path (same catalog normalization, e.g. nanos
    timestamps)."""
    from greenbuttonengine_spark.sources import TABLES, load_table

    for name in TABLES:
        load_table(spark, name, sf_dir).createOrReplaceTempView(name)
    got = spark.sql(
        """
        SELECT n.n_name, COUNT(*) AS n_customers
        FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY n.n_name ORDER BY n.n_name
        """
    ).collect()
    c = load_table(spark, "customer", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    want = {
        r.n_name: r.n_customers
        for r in c.join(n, c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .count()
        .withColumnRenamed("count", "n_customers")
        .collect()
    }
    assert {r.n_name: r.n_customers for r in got} == want
    # events view must carry the catalog's nanos-timestamp normalization
    assert spark.sql(
        "SELECT MIN(ts) AS t FROM events"
    ).first().t is not None


def test_load_table_refuses_wrong_read_conf(spark, sf_dir):
    """load_table checks the session's read settings instead of setting
    them: with nanosAsLong off it raises and names the conf."""
    import pytest

    from greenbuttonengine_spark.sources import load_table

    key = "spark.sql.legacy.parquet.nanosAsLong"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        with pytest.raises(ValueError, match=key):
            load_table(spark, "events", sf_dir)
    finally:
        spark.conf.set(key, old)
    assert load_table(spark, "events", sf_dir).count() > 0


def test_gate_rotation_ordering():
    """The driver checks a 50-row budget in queries() order: never-
    driver-checked oracle queries must come first, already-checked ones
    after, rows-only after that, and the slow ESPI ingest dead last."""
    import __spark_entry__ as e
    from greenbuttonengine_spark.plans import registry

    e.queries()
    names = e._ordered_names(registry)
    assert set(names) == set(registry.QUERIES)
    phase = []
    for n in names:
        if n in e._LAST:
            phase.append(3)
        elif n not in registry.ORACLES:
            phase.append(2)
        elif n in e._DRIVER_CHECKED:
            phase.append(1)
        else:
            phase.append(0)
    assert phase == sorted(phase), (
        "gate order must be new-oracle, checked, rows-only, espi"
    )
    assert names[-1] == "espi_egd_timeseries"
    # every _DRIVER_CHECKED name must still exist (renames would
    # silently re-shuffle the budget)
    assert e._DRIVER_CHECKED <= set(registry.QUERIES)
