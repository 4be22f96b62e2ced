"""The replica recipes behind ``tools/measure.py --corpus``.

Each recipe must give K times the source rows, unique ids, and replicas
that differ from one another beyond their ids.  Without the last rule a
dedup or similarity operator collapses the replicas for free and the
100x measurement reads a workload that does not exist.
"""

from __future__ import annotations

import importlib.util
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
# replicas per recipe: ``words`` takes more than 7, so a shift that
# repeats with period 7 makes two replicas bit-identical and fails
K = {"words": 8, "chars": 2, "events": 2}

# recipe -> the tables it replicates, each with the id columns it
# offsets per replica; every other column is replica content
REPLICATED = {
    "words": {"documents": ("doc_id",), "embeddings": ("vec_id",)},
    "chars": {"documents": ("doc_id",)},
    "events": {"events": ("event_id", "user_id")},
}


def _load_measure():
    spec = importlib.util.spec_from_file_location("gbe_measure", REPO / "tools" / "measure.py")
    mod = importlib.util.module_from_spec(spec)
    sys.modules["gbe_measure"] = mod
    spec.loader.exec_module(mod)
    return mod


@pytest.mark.parametrize("recipe", sorted(REPLICATED))
def test_replicas_are_counted_keyed_and_perturbed(spark, sf_dir, tmp_path, recipe):
    measure = _load_measure()
    assert set(measure.CORPORA) == set(REPLICATED)
    k = K[recipe]
    measure.CORPORA[recipe](spark, sf_dir, str(tmp_path), k)
    for table, ids in REPLICATED[recipe].items():
        src = spark.read.parquet(f"{sf_dir}/{table}.parquet")
        out = spark.read.parquet(f"{tmp_path}/{table}.parquet")
        assert out.count() == k * src.count(), table
        assert out.select(ids[0]).distinct().count() == out.count(), table
        # perturbed replicas share no content row; verbatim ones would
        # leave the distinct content count at the source's
        content = [c for c in src.columns if c not in ids]
        assert out.select(content).distinct().count() == (
            k * src.select(content).distinct().count()
        ), table
