"""Round-9 extension wave (fourth batch): corpus economics — the
data-constrained epoch scheduler (how many times may each source
repeat under a token budget) and prefix-sharing analysis (how much of
the corpus a prompt/prefix cache would absorb).

Same cross-engine rules as wave9_queries.py: seeded md5-60 hashes,
exact BIGINT arithmetic (the waterfill runs in 2^20 fixed point, the
PCA/pagerank technique), one final IEEE division per fraction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import load_table
from .registry import register
from .wave8_queries import _md5_60

# ---------------------------------------------------------------------------
# Data-constrained epoch schedule (integer waterfilling)
# ---------------------------------------------------------------------------

_WF_SCALE = 1 << 20   # lambda fixed-point scale
_WF_STEPS = 24        # bisection steps (resolves lambda to ~4e-6)
_WF_BUDGET_X = 2      # token budget = 2x the corpus
_WF_MAX_EPOCHS = 4


def _epoch_oracle_sql() -> str:
    """Unrolled integer bisection: each step is one tiny CTE pair over
    the O(sources) aggregate (the pagerank/PCA unrolled-fixpoint
    technique), replaying the driver-side Python loop bit for bit."""
    head = f"""
    WITH src AS MATERIALIZED (
        SELECT coalesce(source, '') AS source_key,
               CAST(SUM(length(text) - length(replace(text, ' ', '')) + 1)
                   AS BIGINT) AS toks,
               1 + CAST(concat('0x', substr(md5(concat('cap:',
                   coalesce(source, ''))), 1, 15)) AS BIGINT)
                   % {_WF_MAX_EPOCHS} AS cap_epochs
        FROM documents WHERE text IS NOT NULL
        GROUP BY 1
    ),
    bdg AS MATERIALIZED (
        SELECT {_WF_BUDGET_X} * SUM(toks) AS b FROM src
    ),
    st0 AS MATERIALIZED (
        SELECT CAST(0 AS BIGINT) AS lo,
               CAST({_WF_MAX_EPOCHS * _WF_SCALE} AS BIGINT) AS hi
    )"""
    steps = []
    for t in range(1, _WF_STEPS + 1):
        steps.append(f""",
    f{t} AS MATERIALIZED (
        SELECT st.lo, st.hi, (st.lo + st.hi) // 2 AS mid,
               SUM(LEAST(s.cap_epochs * s.toks,
                   (((st.lo + st.hi) // 2) * s.toks) >> 20)) AS fs
        FROM st{t - 1} st CROSS JOIN src s
        GROUP BY 1, 2, 3
    ),
    st{t} AS MATERIALIZED (
        SELECT CASE WHEN f.fs <= bdg.b THEN f.mid ELSE f.lo END AS lo,
               CASE WHEN f.fs <= bdg.b THEN f.hi ELSE f.mid END AS hi
        FROM f{t} f CROSS JOIN bdg
    )""")
    return (
        head
        + "".join(steps)
        + f"""
    SELECT s.source_key, s.toks, CAST(s.cap_epochs AS BIGINT) AS cap_epochs,
           CAST(LEAST(s.cap_epochs * s.toks,
               (st.lo * s.toks) >> 20) AS BIGINT) AS alloc_tokens,
           CAST(LEAST(s.cap_epochs * s.toks,
               (st.lo * s.toks) >> 20) * 1000000 // s.toks AS BIGINT)
               AS epochs_ppm
    FROM src s CROSS JOIN st{_WF_STEPS} st
    """
    )


@register(
    "pipeline_epoch_schedule",
    _epoch_oracle_sql(),
    tags=("sampling", "mixing"),
    doc="Data-constrained epoch scheduling (the Muennighoff et al. "
    "2023 regime: budget > unique data, so sources repeat): allocate "
    "a token budget B = 2x the corpus across sources, each capped at "
    "its own max epoch count (seeded md5-60 1..4, the stand-in for a "
    "quality-tier policy), by exact integer WATERFILLING — find the "
    "largest rate lambda with sum_s min(cap_s*toks_s, "
    "lambda*toks_s) <= B via 24 bisection steps in 2^20 fixed point.  "
    "Low-cap sources saturate, the rest share the leftover at one "
    "common rate — the allocation every big pretraining mix computes "
    "before writing its sampling weights (compose with "
    "pipeline_training_mix / corpus_mix_rebalance).  Plan: ONE "
    "corpus pass (map-side-combined per-source token sums), then the "
    "bisection runs on the O(sources) aggregate — driver-side integer "
    "loop in Spark (the PCA-moments collect pattern, O(sources) "
    "rows), an unrolled 24-step CTE chain in the oracle, bit-identical "
    "by shared //, >>, LEAST arithmetic.  Fixed-point headroom: "
    "lambda <= 4*2^20, so toks up to ~2^41 per source stay under "
    "2^63 — at 100 TB (~2^44 tokens) drop SCALE to 2^16 or split the "
    "multiply; documented rather than silently truncated.  The same "
    "~2^41-per-source bound applies to the epochs_ppm projection "
    "(alloc_tokens*1e6 with alloc up to 4*toks needs toks < "
    "2^63/(4*10^6) ~= 2^41); past it, compute epochs_ppm directly "
    "from the rate (lo*10^6 >> 20) instead of from alloc*10^6.",
)
def pipeline_epoch_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir).filter(F.col("text").isNotNull())
    src = docs.groupBy(
        F.coalesce("source", F.lit("")).alias("source_key")
    ).agg(
        F.sum(
            F.expr("length(text) - length(replace(text, ' ', '')) + 1")
        ).cast("long").alias("toks"),
    ).withColumn(
        "cap_epochs",
        (1 + _md5_60(F.concat(F.lit("cap:"), F.col("source_key"))) % _WF_MAX_EPOCHS),
    )
    # O(sources) collect -> exact integer bisection on the driver
    # (the PCA-moments pattern: the corpus pass stays distributed)
    rows = src.select("toks", "cap_epochs").collect()
    budget = _WF_BUDGET_X * sum(r.toks for r in rows)
    lo, hi = 0, _WF_MAX_EPOCHS * _WF_SCALE
    for _ in range(_WF_STEPS):
        mid = (lo + hi) // 2
        fs = sum(
            min(r.cap_epochs * r.toks, (mid * r.toks) >> 20) for r in rows
        )
        if fs <= budget:
            lo = mid
        else:
            hi = mid
    alloc = F.least(
        F.col("cap_epochs") * F.col("toks"),
        F.shiftright(F.lit(lo) * F.col("toks"), 20),
    )
    return src.select(
        "source_key",
        "toks",
        F.col("cap_epochs").cast("long").alias("cap_epochs"),
        alloc.cast("long").alias("alloc_tokens"),
        F.expr(
            f"least(cap_epochs * toks, shiftright({lo}L * toks, 20)) "
            "* 1000000 div toks"
        ).cast("long").alias("epochs_ppm"),
    )


# ---------------------------------------------------------------------------
# Prefix-sharing (prompt-cache) analysis
# ---------------------------------------------------------------------------

_PREFIX_LENS = (8, 16, 32)


@register(
    "corpus_prefix_sharing",
    f"""
    WITH sweep AS (
        SELECT g.l AS prefix_len, substr(text, 1, g.l) AS p
        FROM documents
        CROSS JOIN (SELECT CAST(unnest({list(_PREFIX_LENS)}) AS BIGINT) AS l) g
        WHERE text IS NOT NULL AND length(text) >= g.l
    ), grp AS (
        SELECT prefix_len, p, COUNT(*) AS n FROM sweep GROUP BY 1, 2
    )
    SELECT prefix_len,
           CAST(SUM(n) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_prefixes,
           CAST(SUM(CASE WHEN n > 1 THEN n ELSE 0 END) AS BIGINT)
               AS n_shared_docs,
           CAST(SUM(CASE WHEN n > 1 THEN (n - 1) * prefix_len ELSE 0 END)
               AS BIGINT) AS cacheable_chars,
           CAST(SUM(CASE WHEN n > 1 THEN n - 1 ELSE 0 END) AS DOUBLE)
               / CAST(SUM(n) AS DOUBLE) AS cache_hit_frac
    FROM grp GROUP BY prefix_len
    """,
    tags=("textstats", "cache"),
    doc="Prefix-sharing analysis — the measurement behind prompt/"
    "prefix caching and radix-tree KV reuse (SGLang-style): for each "
    "candidate prefix length, how many documents share their first L "
    "characters with another document, how many characters a cache "
    "that stores each distinct prefix once would absorb "
    "((n-1)*L per group), and the hit fraction (requests after the "
    "first, per group, over all requests).  Groups are exact "
    "substrings, so this is ALSO the exact-collision upper bound for "
    "prefix-based dedup blocking.  Plan: explode x3 literal lengths "
    "-> one hash aggregate on (L, prefix) -> one 3-row rollup; the "
    "prefix shuffle carries <= L+8 bytes per row and map-side "
    "combine collapses duplicates early, so at 100 TB the exchange "
    "is bounded by distinct-prefix count, not corpus size.",
)
def corpus_prefix_sharing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir).filter(F.col("text").isNotNull())
    sweep = docs.select(
        "text",
        F.explode(
            F.array(*[F.lit(l).cast("long") for l in _PREFIX_LENS])
        ).alias("prefix_len"),
    ).filter(F.length("text") >= F.col("prefix_len")).select(
        "prefix_len", F.expr("substr(text, 1, prefix_len)").alias("p")
    )
    grp = sweep.groupBy("prefix_len", "p").agg(F.count("*").alias("n"))
    return grp.groupBy("prefix_len").agg(
        F.sum("n").cast("long").alias("n_docs"),
        F.count("*").cast("long").alias("n_prefixes"),
        F.sum(F.when(F.col("n") > 1, F.col("n")).otherwise(0))
        .cast("long")
        .alias("n_shared_docs"),
        F.sum(
            F.when(F.col("n") > 1, (F.col("n") - 1) * F.col("prefix_len"))
            .otherwise(0)
        )
        .cast("long")
        .alias("cacheable_chars"),
        (
            F.sum(F.when(F.col("n") > 1, F.col("n") - 1).otherwise(0)).cast(
                "double"
            )
            / F.sum("n").cast("double")
        ).alias("cache_hit_frac"),
    )
