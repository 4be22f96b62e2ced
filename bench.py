"""Benchmark harness: runs the headline declared queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Protocol (BASELINE.md, rounds 8-10): single-shot timings on this box
swing 1.1-2.6x with ambient load (four runs of identical code measured
33.5-45.3s), so each query runs SPARK_GRAFT_BENCH_TRIALS warm trials
(default 5) in one session and the reported number is the per-query
MEDIAN; ``queries_min``/``value_min`` carry the per-query minima as the
noise floor.  Each trial fully executes the query via
``df.write.format('noop')`` — noop write materializes every row without
driver transfer, which is the fairest throughput measure.

Noise gate (round 14): BENCH_r13 was contaminated by hypervisor
interference the artifact itself stamped (cpu_steal_pct 5.6 vs <=0.23
on every clean run; uniform ~5x inflation on untouched pure-scan
queries).  Steal is the discriminating signal — pre-run loadavg was
NOT predictive (1.82 on the bad run, 3.23 on a clean one) — so the
harness now (a) probes steal for a few seconds before measuring and
waits out a noisy window, and (b) discards and re-measures the whole
suite (bounded attempts, backoff) when the run's own measured steal
exceeds SPARK_GRAFT_BENCH_STEAL_MAX (default 1.0%).  Every attempt's
stamps are recorded under ``noise_gate`` so a gated artifact is
self-explaining; if all attempts are noisy the last result is still
emitted with ``noise_gate.passed = false``.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

HEADLINE = [
    "q1_pricing_summary",
    "s1_scan_filter_project",
    "j3_fact_dim_denormalize",
    "j5_left_join_enrich",
    "j2_two_hop_fk_resolution",
    "p10_enum_decode_broadcast",
    "a1_minmax_extent",
    "o4_run_length_split",
    "o5_topk_limit",
    "w3_rank_per_group",
    "d1_date_trunc_rollup",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "sessionize_events",
    "asof_last_click_before_purchase",
    # TPC-H-shaped heavies (plans/tpch_queries.py)
    "q6_forecast_revenue",
    "q10_returned_items",
    "q13_customer_distribution",
    "q18_large_volume_customer",
    "q21_waiting_suppliers",
]


def _load_stamp() -> dict:
    """Machine-load snapshot (/proc/loadavg + cumulative steal/total
    jiffies).  This box's single-shot timings swing 1.1-2.6x with
    ambient load (BASELINE.md), and three separate rounds have burned
    an investigation proving an apparent regression was interference —
    stamping load into the bench JSON makes the driver artifact
    self-diagnosing (r11 VERDICT)."""
    out: dict = {}
    try:
        with open("/proc/loadavg") as fh:
            la = fh.read().split()
        out["loadavg_1m"] = float(la[0])
        out["loadavg_5m"] = float(la[1])
    except (OSError, ValueError, IndexError):
        pass
    try:
        with open("/proc/stat") as fh:
            cpu = fh.readline().split()
        vals = [int(x) for x in cpu[1:]]
        out["cpu_total_jiffies"] = sum(vals)
        if len(vals) > 7:
            out["cpu_steal_jiffies"] = vals[7]
    except (OSError, ValueError):
        pass
    return out


def _steal_between(start: dict, end: dict) -> float | None:
    """Steal %% of total jiffies between two ``_load_stamp`` snapshots."""
    dt = end.get("cpu_total_jiffies", 0) - start.get("cpu_total_jiffies", 0)
    if dt > 0 and "cpu_steal_jiffies" in end:
        ds = end["cpu_steal_jiffies"] - start.get("cpu_steal_jiffies", 0)
        return round(100.0 * ds / dt, 3)
    return None


def _probe_steal(window_sec: float = 4.0) -> tuple[float | None, dict]:
    """Sample hypervisor steal over a short idle window (pre-run gate)."""
    s0 = _load_stamp()
    time.sleep(window_sec)
    s1 = _load_stamp()
    return _steal_between(s0, s1), s1


def warm_tables(spark, sf_dir: str) -> None:
    """Scan every catalog table once, so the JVM and each table's
    parquet footers are warm and per-query timings measure the query,
    not first-touch listing costs."""
    from greenbuttonengine_spark.sources.catalog import TABLES, load_table

    for t in TABLES:
        load_table(spark, t, sf_dir).write.format("noop").mode("overwrite").save()


def time_trials(spark, fn, sf_dir: str, n: int) -> list[tuple[float, float]]:
    """Run the query builder ``fn`` ``n`` times; each trial rebuilds the
    DataFrame from scratch and then executes it to the noop sink.

    Returns one ``(build_s, exec_s)`` pair per trial.  Build is
    driver-side plan construction, including any jobs the builder runs
    itself (seeded collects, fixpoint loops, eager checkpoints); exec
    materializes every row without driver transfer.
    """
    out = []
    for _ in range(n):
        t0 = time.time()
        df = fn(spark, sf_dir)
        t1 = time.time()
        df.write.format("noop").mode("overwrite").save()
        out.append((t1 - t0, time.time() - t1))
    return out


def _run_suite(
    spark, qs, names: list[str], sf_dir: str, n_trials: int
) -> tuple[dict[str, float], dict[str, float], dict]:
    """One full measurement pass: headline queries + the ESPI workload.

    Returns (timings, minima, espi_extras).  Re-running this in the
    same session is always warm — consistent with the warm-median
    protocol.
    """
    timings: dict[str, float] = {}
    minima: dict[str, float] = {}
    for name in names:
        trials = [b + x for b, x in time_trials(spark, qs[name], sf_dir, n_trials)]
        timings[name] = round(statistics.median(trials), 3)
        minima[name] = round(min(trials), 3)

    # ESPI end-to-end: XML -> parse -> denormalize -> parquet (BASELINE.md
    # protocol; the reference's own workload).  Two protocol rules:
    #   1. The Python/mapInArrow worker path is warmed UNTIMED first —
    #      every preceding headline query is pure JVM, so the first parse
    #      would otherwise be billed one-time Python-worker + Arrow
    #      startup (~3x inflation: 14.5s cold vs 4.6s warm for identical
    #      output).  Steady-state latency is the honest number.
    #   2. Single-file latency is fixed-overhead-dominated (job count,
    #      not data), so multi-file throughput (files/s over 512 copies)
    #      is reported as the headline ESPI metric alongside it.
    # Input: a seeded two-year EGD-shaped gas export, built in-process.
    import shutil
    import tempfile

    from greenbuttonengine_spark.espi import timeseries_from_files
    from greenbuttonengine_spark.sinks import write_parquet
    from perfbench.corpus import make_feed

    n_files = int(os.environ.get("SPARK_GRAFT_ESPI_FILES", "512"))
    multi = tempfile.mkdtemp(prefix="bench_espi_multi_")
    egd = os.path.join(multi, "copy_0000.xml")
    with open(egd, "wb") as fh:
        fh.write(make_feed(0, "egd_gas.xml", "egd_gas", days=730).data)
    for i in range(1, n_files):
        os.link(egd, os.path.join(multi, f"copy_{i:04d}.xml"))

    def run_espi(paths) -> float:
        out = tempfile.mkdtemp(prefix="bench_espi_")
        t0 = time.time()
        ts, _errors = timeseries_from_files(spark, paths)
        write_parquet(ts, out)
        dt = time.time() - t0
        shutil.rmtree(out, ignore_errors=True)
        spark.catalog.clearCache()  # drop the pipeline's parse cache
        return dt

    run_espi(egd)  # warm-up: Python workers, Arrow, XML codepaths
    single_trials = [run_espi(egd) for _ in range(max(3, min(n_trials, 5)))]
    timings["espi_xml_to_parquet"] = round(statistics.median(single_trials), 3)
    minima["espi_xml_to_parquet"] = round(min(single_trials), 3)

    # Untimed multi-file warm-up (40 files): the glob-listing /
    # many-partition codepath has its own first-run costs that the
    # single-file warm-up does not touch (measured ~63 vs ~85
    # files/s first-vs-steady on an idle box); per protocol rule 1
    # the steady-state number is the honest one.
    run_espi(os.path.join(multi, "copy_00[0-3]?.xml"))
    # Three timed trials; throughput reports MIN time (noise on this
    # box is all additive interference — same binary measured 30.8
    # then 74.3 files/s back-to-back), median kept as the secondary.
    multi_trials = [run_espi(os.path.join(multi, "*.xml")) for _ in range(3)]
    espi_files_per_sec = round(n_files / min(multi_trials), 1)
    espi_files_per_sec_median = round(n_files / statistics.median(multi_trials), 1)
    shutil.rmtree(multi, ignore_errors=True)

    return timings, minima, {
        "espi_files_per_sec": espi_files_per_sec,
        "espi_files_per_sec_median": espi_files_per_sec_median,
        "espi_multifile_n": n_files,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    n_trials = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_TRIALS", "5")))
    steal_max = float(os.environ.get("SPARK_GRAFT_BENCH_STEAL_MAX", "1.0"))
    max_attempts = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_MAX_ATTEMPTS", "3")))
    gate_log: list[dict] = []

    # Pre-run gate: a 4s steal probe is cheap next to a minutes-long
    # suite, so wait out a visibly noisy window (bounded backoff) before
    # paying for a measurement that would only be discarded.
    for probe_i in range(max_attempts):
        steal, stamp = _probe_steal()
        gate_log.append(
            {
                "stage": "pre_probe",
                "steal_pct": steal,
                "loadavg_1m": stamp.get("loadavg_1m"),
            }
        )
        if steal is None or steal <= steal_max:
            break
        if probe_i < max_attempts - 1:
            time.sleep(30.0 * (probe_i + 1))

    import __spark_entry__ as entrymod
    from greenbuttonengine_spark.session import get_spark

    spark = get_spark(app_name="gbe-bench")
    # Only the JSON line belongs on the bench transcript.  At default
    # levels two benign log events dump ~200-line Java stack traces:
    # FileStreamSink probing the multi-file glob path (FileNotFound
    # WARN), and late accumulator updates from tasks that finish after
    # clearCache() (DAGScheduler ERROR) — neither affects results.
    spark.sparkContext.setLogLevel("OFF")

    qs = entrymod.queries()
    names = [n for n in HEADLINE if n in qs]
    # include extension headliners when present
    for extra in ("dedup_exact", "dedup_minhash_lsh", "ann_bruteforce_topk", "text_quality_score"):
        if extra in qs and extra not in names:
            names.append(extra)
    # r14 VERDICT item 2: the priciest audited non-headline plans join
    # the 2x gate.  They are measured in the same suite but summed
    # into value_heavy (baselines: BASELINE.md round-15 section) so
    # "value" stays comparable with the historical headline total.
    heavy = [
        n
        for n in (
            "eval_pq_recall",
            "eval_pq_recall_trained",
            "dedup_repeated_substrings",
            "dedup_doc_containment",
            "pipeline_curation_v2",
        )
        if n in qs and n not in names
    ]
    names.extend(heavy)

    warm_tables(spark, sf_dir)
    qs["s1_scan_filter_project"](spark, sf_dir).write.format("noop").mode("overwrite").save()

    # Measure-and-retry: the run's own steal reading is the ground truth
    # (pre-probes can miss interference that starts mid-run, as in r13).
    passed = False
    timings: dict[str, float] = {}
    minima: dict[str, float] = {}
    espi_extras: dict = {}
    load_start: dict = {}
    load_end: dict = {}
    run_steal: float | None = None
    for attempt in range(1, max_attempts + 1):
        load_start = _load_stamp()
        timings, minima, espi_extras = _run_suite(spark, qs, names, sf_dir, n_trials)
        load_end = _load_stamp()
        run_steal = _steal_between(load_start, load_end)
        gate_log.append(
            {
                "stage": "measure",
                "attempt": attempt,
                "steal_pct": run_steal,
                "loadavg_start": load_start.get("loadavg_1m"),
                "loadavg_end": load_end.get("loadavg_1m"),
                "total_sec": round(sum(timings.values()), 3),
            }
        )
        if run_steal is None or run_steal <= steal_max:
            passed = True
            break
        if attempt < max_attempts:
            time.sleep(60.0 * attempt)

    heavy_set = set(heavy)
    total = round(
        sum(v for n, v in timings.items() if n not in heavy_set), 3
    )
    out = {
        "metric": "headline_queries_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "protocol": f"warm_median_n{n_trials}",
        "value_min": round(
            sum(v for n, v in minima.items() if n not in heavy_set), 3
        ),
        "queries_min": minima,
        # the five extended heavies, summed separately: their
        # baselines are the r15 first-run numbers in BASELINE.md, not
        # part of the historical 20-query headline total
        "value_heavy": round(
            sum(v for n, v in timings.items() if n in heavy_set), 3
        ),
    }
    out.update(espi_extras)
    if "loadavg_1m" in load_start:
        out["loadavg_start"] = [load_start["loadavg_1m"], load_start["loadavg_5m"]]
    if "loadavg_1m" in load_end:
        out["loadavg_end"] = [load_end["loadavg_1m"], load_end["loadavg_5m"]]
    if run_steal is not None:
        out["cpu_steal_pct"] = run_steal
    out["noise_gate"] = {
        "passed": passed,
        "steal_max_pct": steal_max,
        "max_attempts": max_attempts,
        "attempts": gate_log,
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
