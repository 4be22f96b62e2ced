"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query at sf0.001; ``queries()`` /
``oracle_sql()`` expose the full declared inventory (SURVEY.md §2 +
extension operators) for the DuckDB correctness gate.
"""

from __future__ import annotations

import functools
import json
import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_REPO = Path(__file__).resolve().parent
if str(_REPO) not in sys.path:
    sys.path.insert(0, str(_REPO))


def _registry():
    # Importing the query modules populates the registry. Import order IS
    # gate order (a budgeted correctness gate checks a prefix): reference
    # §2 operators first, then the LLM-pipeline extensions, then the
    # generic complex-type and TPC-H batches.
    from greenbuttonengine_spark.plans import registry
    from greenbuttonengine_spark.plans import core_queries  # noqa: F401
    from greenbuttonengine_spark.plans import relational_queries  # noqa: F401
    from greenbuttonengine_spark.plans import advanced_queries  # noqa: F401
    from greenbuttonengine_spark.plans import extension_queries  # noqa: F401
    from greenbuttonengine_spark.plans import search_queries  # noqa: F401
    from greenbuttonengine_spark.plans import complex_queries  # noqa: F401
    from greenbuttonengine_spark.plans import tpch_queries  # noqa: F401
    from greenbuttonengine_spark.plans import extra_queries  # noqa: F401
    from greenbuttonengine_spark.plans import wave5_queries  # noqa: F401
    from greenbuttonengine_spark.plans import wave7_queries  # noqa: F401
    from greenbuttonengine_spark.plans import wave8_queries  # noqa: F401
    from greenbuttonengine_spark.plans import wave9_queries  # noqa: F401
    from greenbuttonengine_spark.plans import wave10_queries  # noqa: F401
    from greenbuttonengine_spark.plans import wave11_queries  # noqa: F401
    from greenbuttonengine_spark.plans import wave12_queries  # noqa: F401
    from greenbuttonengine_spark.plans import wave13_queries  # noqa: F401
    from greenbuttonengine_spark.plans import wave14_queries  # noqa: F401
    from greenbuttonengine_spark.plans import wave15_queries  # noqa: F401
    from greenbuttonengine_spark.plans import wave17_queries  # noqa: F401
    from greenbuttonengine_spark.plans import wave18_queries  # noqa: F401
    from greenbuttonengine_spark.plans import wave19_queries  # noqa: F401
    from greenbuttonengine_spark.plans import wave20_queries  # noqa: F401
    from greenbuttonengine_spark.plans import wave21_queries  # noqa: F401
    from greenbuttonengine_spark.plans import wave22_queries  # noqa: F401
    from greenbuttonengine_spark.plans import wave23_queries  # noqa: F401
    from greenbuttonengine_spark.plans import wave24_queries  # noqa: F401
    from greenbuttonengine_spark.plans import wave25_queries  # noqa: F401
    from greenbuttonengine_spark.plans import wave26_queries  # noqa: F401
    from greenbuttonengine_spark.plans import wave27_queries  # noqa: F401
    from greenbuttonengine_spark.plans import wave28_queries  # noqa: F401
    from greenbuttonengine_spark.plans import wave29_queries  # noqa: F401
    from greenbuttonengine_spark.plans import wave30_queries  # noqa: F401

    return registry


# Rows-only entries (no oracle -> weaker check) run after every
# oracle-backed query, so a time-budgeted gate spends its window on the
# hard signal first; the slow ESPI ingest runs dead last.
_LAST = ("espi_egd_timeseries",)

# Oracle-backed queries that a driver record verified: name ->
# {fingerprint, green_round}, kept by tools/predict_gate.py, which drops
# an entry once its fingerprint changes.
_LEDGER = _REPO / "GATE_LEDGER.json"


def _ordered_names(reg) -> list[str]:
    # The driver checks a 50-row budget per round in this order: the
    # never-verified or changed oracle queries first, then the greens,
    # stalest round first (a stable sort keeps registration order
    # within a round), so every verified query is re-checked in turn.
    ledger = json.loads(_LEDGER.read_text())
    names = [n for n in reg.QUERIES if n not in _LAST]
    oracle = [n for n in names if n in reg.ORACLES]
    checked = sorted(
        (n for n in oracle if n in ledger), key=lambda n: ledger[n]["green_round"]
    )
    return (
        [n for n in oracle if n not in ledger]
        + checked
        + [n for n in names if n not in reg.ORACLES]
        + [n for n in _LAST if n in reg.QUERIES]
    )


def _pin_read_confs(spark: SparkSession) -> None:
    # A caller may hand in a session that get_spark did not build: the
    # catalog checks these on every read instead of setting them, and
    # the Python kernels' workers import the package from the shipped zip.
    from greenbuttonengine_spark.shipping import ensure_package_shipped
    from greenbuttonengine_spark.sources.catalog import READ_CONFS

    for key, value in READ_CONFS.items():
        spark.conf.set(key, value)
    ensure_package_shipped(spark)


def _with_read_confs(fn: Callable[[SparkSession, str], DataFrame]):
    @functools.wraps(fn)
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _pin_read_confs(spark)
        return fn(spark, sf_dir)

    return run


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1-style pricing summary) on sf0.001."""
    reg = _registry()
    _pin_read_confs(spark)
    return reg.QUERIES["q1_pricing_summary"].fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    reg = _registry()
    return {
        name: _with_read_confs(reg.QUERIES[name].fn) for name in _ordered_names(reg)
    }


def oracle_sql() -> dict[str, str]:
    reg = _registry()
    return {n: reg.ORACLES[n] for n in _ordered_names(reg) if n in reg.ORACLES}
