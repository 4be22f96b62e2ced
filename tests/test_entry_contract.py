"""Smoke tests for the driver contract (__spark_entry__)."""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys
from pathlib import Path

import __spark_entry__ as entrymod

REPO = Path(__file__).resolve().parents[1]


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
    """The driver checks a 50-row budget in queries() order: oracle
    queries without a ledger entry (never verified, or changed since)
    come first, then the ledger entries, stalest green round first,
    then rows-only queries, and the slow ESPI ingest dead last."""
    import __spark_entry__ as e
    from greenbuttonengine_spark.plans import registry

    e.queries()
    ledger = json.loads(e._LEDGER.read_text())
    names = e._ordered_names(registry)
    assert set(names) == set(registry.QUERIES)
    # every ledger name must still exist and carry an oracle (a rename
    # would silently re-shuffle the budget)
    assert set(ledger) <= set(registry.ORACLES)
    key = []
    for n in names:
        if n in e._LAST:
            key.append((3, 0))
        elif n not in registry.ORACLES:
            key.append((2, 0))
        elif n in ledger:
            key.append((1, ledger[n]["green_round"]))
        else:
            key.append((0, 0))
    assert key == sorted(key), (
        "gate order must be new-oracle, ledger by green round, rows-only, espi"
    )
    assert names[-1] == "espi_egd_timeseries"


def _predict_gate():
    spec = importlib.util.spec_from_file_location(
        "predict_gate", REPO / "tools" / "predict_gate.py"
    )
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def test_gate_ledger_is_fresh(built_queries):
    """Every ledger entry still has the fingerprint its green round
    verified.  A query whose plan, oracle or hidden source changed must
    leave the ledger (``python tools/predict_gate.py``), so the gate
    re-checks it first."""
    ledger = json.loads(entrymod._LEDGER.read_text())
    failed = sorted(n for n in ledger if isinstance(built_queries[n], Exception))
    now = _predict_gate().fingerprints(
        {n: built_queries[n] for n in ledger if n not in failed}
    )
    stale = failed + sorted(
        n for n in now if now[n] != ledger[n]["fingerprint"]
    )
    assert not stale, f"ledger entries whose fingerprint changed: {stale}"


def test_fingerprints_ignore_build_order(spark, sf_dir, built_queries):
    """The session counters in plan text (expression ids, lambda
    variables, CTE ids, view names) depend on what was built before;
    the fingerprint must not."""
    pg = _predict_gate()
    names = list(entrymod.oracle_sql())[::5]
    qs = entrymod.queries()
    again = pg.fingerprints({n: qs[n](spark, sf_dir) for n in reversed(names)})
    first = pg.fingerprints({n: built_queries[n] for n in names})
    assert {n for n in names if first[n] != again[n]} == set()


def test_python_kernel_runs_from_any_cwd(tmp_path, sf_dir):
    """A driver started outside the checkout, on a session get_spark did
    not build, runs a Python-kernel query first thing: the queries()
    wrapper ships the package, so the workers can import it.  The
    shipped zip is removed when the driver exits."""
    script = (
        "import sys\n"
        f"sys.path.insert(0, {str(REPO)!r})\n"
        "from pyspark.sql import SparkSession\n"
        "spark = SparkSession.builder.master('local[2]')"
        ".config('spark.ui.enabled', 'false').getOrCreate()\n"
        "import __spark_entry__ as e\n"
        f"df = e.queries()['ann_ivf_pq_topk'](spark, {sf_dir!r})\n"
        "print('ROWS', df.count())\n"
        "spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["TMPDIR"] = str(tmp_path)
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    assert "ROWS" in out.stdout
    assert not list(tmp_path.rglob("greenbuttonengine_spark.zip"))
