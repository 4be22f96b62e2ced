"""Tiny-size runs of every workload: the result line carries every
metric of BENCHMARK.json with its unit, and a failed output check shows
up as failed ops."""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent.parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import run  # noqa: E402

BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())


def _run(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_benchmark_json_matches_run_py():
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in BENCH["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in BENCH["workloads"]} <= set(run.WORKLOADS)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_every_metric_printed(workload, trace):
    res = _run(workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    want = run.PER_LAYER if trace else run.END_TO_END
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    for k, v in res["metrics"].items():
        assert isinstance(v["value"], (int, float)), k
        if not trace:
            assert v["value"] > 0, k


def test_failed_check_counts_failed_ops(monkeypatch, capsys):
    from greenbuttonengine_spark.espi import fastpath

    real = fastpath.convert_file

    def wrong(path):
        rows, errors = real(path)
        rows[0] = dict(rows[0], value=rows[0]["value"] + 1.0)
        return rows, errors

    monkeypatch.setattr(fastpath, "convert_file", wrong)
    monkeypatch.delenv("TMPDIR", raising=False)  # restored after the run sets it
    assert run.main(["--workload", "cli_single_file", "--seed", "3", "--seconds", "1",
                     "--tiny"]) == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["correct"] is False
    assert res["failed"] == res["attempted"] >= 1
