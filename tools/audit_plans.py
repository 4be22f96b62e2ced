"""Physical-plan audit over the whole declared inventory.

Writes PLANS.md: one row per query with the plan features that decide
100 TB behavior — exchange (shuffle) count, sort count, broadcast vs
sort-merge joins, Python stages, scan pushdown evidence — so every
SCALING.md claim is checkable from one table without re-running
explain() by hand.  With --time, each query is also rebuilt and
executed to a noop sink (one ``bench.time_trials`` trial) and its build
and exec wall-clock recorded (run on an idle machine).
With --nondet, each query is additionally executed TWICE MORE from a
freshly built DataFrame and an order-independent canonical value hash
(sum over rows of xxhash64(all columns, sorted by name)) is compared
across the two runs — catching the repartitionByRange /
monotonically_increasing_id re-execution class that broke
ts2_mean_shift_detect in r7 (per-RDD-seeded boundary sampling consumed
by multiple branches), which single-run checks structurally cannot see.

Usage: python tools/audit_plans.py [sf_dir] [--time] [--nondet]
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from bench import time_trials  # noqa: E402


def _canon_value_hash(df):
    """Order-independent canonical value hash of a DataFrame: sum of
    per-row xxhash64 over all columns (sorted by name; map-bearing
    columns serialized via to_json since Spark cannot hash maps).
    Bit-exact on doubles, so fp accumulation-order drift flags too —
    by design: the registry's cross-engine exactness rules promise
    run-to-run exact results."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    def has_map(dt):
        if isinstance(dt, T.MapType):
            return True
        if isinstance(dt, T.ArrayType):
            return has_map(dt.elementType)
        if isinstance(dt, T.StructType):
            return any(has_map(f.dataType) for f in dt.fields)
        return False

    cols = [
        F.to_json(F.col(f.name)) if has_map(f.dataType) else F.col(f.name)
        for f in sorted(df.schema.fields, key=lambda f: f.name)
    ]
    r = df.select(F.xxhash64(*cols).cast("decimal(38,0)").alias("_h")).agg(
        F.count("*").alias("n"), F.sum("_h").alias("h")  # exact under ANSI
    ).collect()[0]
    return (r["n"], r["h"])


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    do_time = "--time" in sys.argv[1:]
    do_nondet = "--nondet" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    if not Path(sf_dir).is_dir():
        # Guard against `audit_plans.py <query-name>` silently consuming
        # the query name as sf_dir and matching nothing.
        sys.exit(
            f"audit_plans.py: sf_dir {sf_dir!r} is not a directory — "
            f"usage: audit_plans.py [SF_DIR] [QUERY_NAME ...] [--time] [--nondet]"
        )
    only = set(args[1:])  # optional query-name filter (debug runs)

    import __spark_entry__ as e
    from greenbuttonengine_spark.plans import registry
    from greenbuttonengine_spark.session import get_spark

    spark = get_spark(app_name="plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    qs = e.queries()
    if only:
        qs = {n: f for n, f in qs.items() if n in only}

    rows = []
    for name in qs:
        if name.startswith("espi"):
            continue  # reads reference XML, not sf tables
        try:
            df = qs[name](spark, sf_dir)
            s = df._jdf.queryExecution().executedPlan().toString()
        except Exception as ex:  # aux entries needing extra setup
            msg = re.sub(r"[|!\n\r]", " ", str(ex))[:40]
            rows.append(
                (name, "-", "-", "-", "-", "-", "-", "-", "-", f"skipped: {msg}")
            )
            continue
        n_ex = len(re.findall(r"\bExchange\b", s))
        n_sort = len(re.findall(r"\bSort\b(?! merge)", s))
        n_bhj = len(re.findall(r"\bBroadcastHashJoin\b", s))
        n_smj = len(re.findall(r"\bSortMergeJoin\b", s))
        py = []
        if "MapInPandas" in s:
            py.append("MapInPandas")
        if "ArrowEvalPython" in s:
            py.append("ArrowEval")
        if "BatchEvalPython" in s:
            py.append("BatchEval!")
        pushed = "yes" if re.search(r"PushedFilters: \[[^\]]", s) else "-"
        notes = []
        if "BroadcastNestedLoopJoin" in s:
            notes.append("BNLJ(tagged)" if set(registry.QUERIES[name].tags)
                         & {"all-pairs", "tiny-bnlj"} else "BNLJ(UNTAGGED!)")
        if "CartesianProduct" in s:
            notes.append("CARTESIAN!")
        build_sec = sec = "-"
        if do_time:
            # Iterative queries (connected-components family) run their
            # fixpoint loop DURING plan construction (localCheckpoint +
            # convergence counts), so the build is timed separately and
            # reported — otherwise their sec column under-reports the
            # true cost as ~0.
            [(build_sec, sec)] = time_trials(spark, qs[name], sf_dir, 1)
            build_sec, sec = round(build_sec, 2), round(sec, 2)
        nondet = "-"
        if do_nondet:
            try:
                # Fresh plan per run: re-building the DataFrame is the
                # point — it exercises re-sampled range boundaries /
                # fresh mid layouts the way stage retries would.
                h1 = _canon_value_hash(qs[name](spark, sf_dir))
                h2 = _canon_value_hash(qs[name](spark, sf_dir))
                nondet = "ok" if h1 == h2 else "NONDET!"
            except Exception as ex:
                nondet = "err:" + re.sub(r"[|!\n\r]", " ", str(ex))[:30]
        rows.append(
            (name, n_ex, n_sort, f"{n_bhj}/{n_smj}", ",".join(py) or "-",
             pushed, build_sec, sec, nondet,
             ",".join(notes) or "-")
        )

    out = [
        "# PLANS — physical-plan audit of the declared inventory",
        "",
        f"Generated by `tools/audit_plans.py` at {sf_dir} "
        "(AQE executedPlan, pre-execution).  Columns: shuffles = "
        "Exchange count; joins = BroadcastHashJoin/SortMergeJoin; "
        "python = Arrow-batched stages (BatchEvalPython would be the "
        "banned row-at-a-time path); pushdown = non-empty PushedFilters "
        "on a scan.  BNLJ rows are whitelist-tagged one-row/all-pairs "
        "cases (test_plan_health enforces).  build = wall-clock of plan "
        "CONSTRUCTION (iterative queries run their fixpoint loop here; "
        "their true cost is build+sec); sec = noop-sink execution; "
        "nondet = two fresh executions compared by order-independent "
        "canonical value hash ('ok' = bit-identical).",
        "",
        "| query | shuffles | sorts | joins b/smj | python | pushdown | build | sec | nondet | notes |",
        "|---|---|---|---|---|---|---|---|---|---|",
    ]
    for r in rows:
        out.append("| " + " | ".join(str(x) for x in r) + " |")
    if only:  # debug subset: print, never clobber the full PLANS.md
        if not rows:
            print(f"no queries matched filter {sorted(only)}")
        else:
            print("\n".join(out[-len(rows):]))
    else:
        (REPO / "PLANS.md").write_text("\n".join(out) + "\n")
    print(f"PLANS.md: {len(rows)} queries audited")
    bad = [r for r in rows if "UNTAGGED!" in str(r[9]) or "CARTESIAN!" in str(r[9])]
    print("violations:", bad or "none")
    nd = [r[0] for r in rows if r[8] == "NONDET!"]
    if do_nondet:
        print("nondet:", nd or "none")
    spark.stop()


if __name__ == "__main__":
    main()
