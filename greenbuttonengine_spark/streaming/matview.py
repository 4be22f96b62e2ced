"""Incremental materialized aggregate view: the additive merge that
keeps a groupBy aggregate queryable as a keyed table — the lakehouse
"incremental view maintenance" step (Materialize/Delta Live Tables
shape).

Latest-row-wins CDC state (``silver.cdc_merge_keepers``) replaces rows;
an aggregate view needs ADDITIVE merges instead: each micro-batch
contributes a batch-local partial aggregate (count/sum per key —
map-side combined inside the batch), and the merge ADDS it to the
persisted per-key totals.  Additivity is what makes the maintenance
incremental: merge cost is O(batch keys + data in affected buckets),
never O(history), and the merged table equals the full batch
recompute — the declared ``streaming_matview_merge`` query checks that
against DuckDB.

Only SUM/COUNT-class aggregates merge additively; AVG ships as
(sum, count) pairs finalized at read time, MIN/MAX merge with
least/greatest (declare them in ``minmax_cols={col: "min"|"max"}``).
Non-decomposable aggregates (exact distinct, medians) need the full
input and are out of scope — the same restriction every IVM engine
documents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _validate_minmax_cols(schema, key_cols: list[str], minmax_cols: dict[str, str]) -> None:
    """Declaration check run before every merge: a misdeclared view
    fails instead of silently summing a min/max column."""
    val_cols = [f.name for f in schema.fields if f.name not in key_cols]
    unknown = set(minmax_cols) - set(val_cols)
    if unknown:
        # a typo here would silently SUM a column meant to min/max-merge
        raise ValueError(f"minmax_cols not in the view's value columns: {sorted(unknown)}")
    bad_kind = {c: k for c, k in minmax_cols.items() if k not in ("min", "max")}
    if bad_kind:
        raise ValueError(f"minmax_cols values must be 'min' or 'max': {bad_kind}")


def agg_merge_deltas(
    delta_b: DataFrame,
    current: DataFrame,
    schema,
    key_cols: list[str],
    minmax_cols: dict[str, str] | None = None,
) -> DataFrame:
    """THE incremental-view merge: union the batch-local partial
    aggregate with the stored per-key totals and re-aggregate — SUM for
    additive columns, least/greatest for names in ``minmax_cols``.
    Correctness contract: merge(partial(A), partial(B)) == partial(A+B)
    for every decomposable aggregate, which is what the declared
    ``streaming_matview_merge`` oracle row checks cross-engine.  Both
    inputs carry ``__bucket``; the merge groups by (keys, bucket) so a
    bucketed store rewrites only affected buckets — O(batch keys +
    data in affected buckets), never O(history)."""
    minmax_cols = minmax_cols or {}
    _validate_minmax_cols(schema, key_cols, minmax_cols)
    val_cols = [f.name for f in schema.fields if f.name not in key_cols]

    def merge_expr(c: str):
        if minmax_cols.get(c) == "min":
            return F.min(c).alias(c)
        if minmax_cols.get(c) == "max":
            return F.max(c).alias(c)
        return F.sum(c).alias(c)

    return (
        delta_b.select(*key_cols, *val_cols, "__bucket")
        .unionByName(current.select(*key_cols, *val_cols, "__bucket"))
        .groupBy(*key_cols, "__bucket")
        .agg(*[merge_expr(c) for c in val_cols])
        .select(*[f.name for f in schema.fields], "__bucket")
    )
