"""Round-9 extension wave: training-run data preparation operators —
deterministic shard assignment (the seeded global shuffle every
trainer needs in front of sequential shard readers), DPO/RLHF
preference-pair construction, and SFT loss-mask accounting.

Shared design rules (see plans/registry.py for the full idiom list):

* Seeded order comes from the md5-60 cross-engine hash
  (``conv(substring(md5(s),1,15),16,10)`` == DuckDB
  ``CAST(concat('0x', substr(md5(s),1,15)) AS BIGINT)`` bit-for-bit),
  never from ``rand()`` — the driver re-executes the plan and a
  per-RDD-seeded sample would not reproduce.
* Global ranks use the bucket-offset construction proven by
  ``o1_multikey_sort_rank`` (relational_queries.py): an
  order-consistent coarse prefix of the sort key buckets the data,
  a tiny counts aggregate yields broadcast offsets, and the only
  per-row window is keyed by bucket.  Deterministic by construction
  and never a single-partition pass — this is what lets the "global
  shuffle" run on a 1000-executor cluster.
* Token counts are pure integer arithmetic on both engines
  (``length - length(replace(.,' ','')) + 1``); fractions are one
  IEEE division of exact BIGINT sums.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..sources.catalog import load_table
from .registry import register


def _md5_60(col):
    """Seeded 60-bit hash, bit-identical in Spark and DuckDB."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


# ---------------------------------------------------------------------------
# Deterministic training-shard assignment (seeded global shuffle)
# ---------------------------------------------------------------------------


@register(
    "train_shard_assign",
    """
    WITH h AS (
        SELECT doc_id,
               CAST(concat('0x', substr(md5(concat('sh:',
                   CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) AS h
        FROM documents
    ), r AS (
        SELECT doc_id, h,
               CAST(ROW_NUMBER() OVER (ORDER BY h, doc_id) AS BIGINT) AS rnk
        FROM h
    )
    SELECT doc_id, h AS shuffle_key,
           CAST((rnk - 1) % 8 AS BIGINT) AS shard,
           CAST((rnk - 1) // 8 AS BIGINT) AS pos_in_shard
    FROM r
    """,
    tags=("sampling", "shard", "tiny-global-window"),
    doc="Deterministic seeded global shuffle + round-robin shard "
    "assignment — the primitive in front of every sequential-reader "
    "training job: order the corpus by a seeded content-independent "
    "hash (md5-60 of 'sh:'||doc_id), stripe rank r to shard r % S at "
    "position r // S, so shards are equal-sized (+-1), reproducible "
    "across runs/engines, and free of source/time locality.  The "
    "global rank is bucket-offset (o1 pattern): the top 8 bits of the "
    "hash form 256 order-consistent buckets; a 256-row counts "
    "aggregate (the only partition-less window) broadcasts cumulative "
    "offsets back and row_number runs per bucket — no corpus-wide "
    "window, no repartitionByRange sampling, deterministic by pure "
    "construction.  At 100 TB the bucket count is the parallelism "
    "knob (top 12-16 bits); writing partitionBy(shard) sorted by "
    "pos_in_shard materializes reader-ready shards.",
)
def train_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    n_shards = 8
    docs = load_table(spark, "documents", sf_dir).select("doc_id")
    h = _md5_60(F.concat(F.lit("sh:"), F.col("doc_id").cast("string")))
    keyed = docs.select("doc_id", h.alias("h"), F.shiftright(h, 52).alias("_bk"))
    counts = keyed.groupBy("_bk").agg(F.count("*").alias("_cnt"))
    prior = W.orderBy("_bk").rowsBetween(W.unboundedPreceding, -1)
    offsets = counts.select(
        F.col("_bk").alias("_obk"),
        F.coalesce(F.sum("_cnt").over(prior), F.lit(0)).alias("_off"),
    )
    win = W.partitionBy("_bk").orderBy("h", "doc_id")
    ranked = keyed.join(
        F.broadcast(offsets), keyed["_bk"].eqNullSafe(offsets["_obk"])
    ).select(
        "doc_id",
        F.col("h").alias("shuffle_key"),
        (F.row_number().over(win) + F.col("_off") - 1).cast("long").alias("_r0"),
    )
    return ranked.select(
        "doc_id",
        "shuffle_key",
        (F.col("_r0") % n_shards).cast("long").alias("shard"),
        F.expr(f"_r0 div {n_shards}").cast("long").alias("pos_in_shard"),
    )


# ---------------------------------------------------------------------------
# DPO/RLHF preference-pair construction
# ---------------------------------------------------------------------------


@register(
    "rlhf_preference_pairs",
    """
    WITH scored AS (
        SELECT coalesce(source, '') AS source_key,
               coalesce(lang, '') AS lang_key,
               doc_id,
               CAST(concat('0x', substr(md5(concat('rw:',
                   CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT)
                   % 1000000 AS reward
        FROM documents
    ), ranked AS (
        SELECT *, CAST(ROW_NUMBER() OVER (
            PARTITION BY source_key, lang_key
            ORDER BY reward DESC, doc_id) AS BIGINT) AS rnk
        FROM scored
    )
    SELECT c.source_key, c.lang_key,
           c.doc_id AS chosen_id, r.doc_id AS rejected_id,
           c.reward AS chosen_reward, r.reward AS rejected_reward,
           c.reward - r.reward AS margin,
           r.rnk - 1 AS pair_rank
    FROM ranked c JOIN ranked r
      ON c.source_key = r.source_key AND c.lang_key = r.lang_key
    WHERE c.rnk = 1 AND r.rnk BETWEEN 2 AND 4
    """,
    tags=("sampling", "preference", "window"),
    doc="DPO/RLHF preference-pair construction: within each candidate "
    "pool (source, lang) — the stand-in for 'completions of one "
    "prompt' — rank candidates by a deterministic reward (md5-60 LCG "
    "proxy for a reward-model score; swap in a real score column in "
    "production) and pair the argmax 'chosen' against the next-3 "
    "runners-up, the HARD rejected samples whose small margins carry "
    "the DPO gradient.  Margins are exact BIGINT deltas.  Plan: one "
    "keyed window (partition per pool) + a pool-key self-equi-join of "
    "the rank<=1 slice against rank 2..4 — both shuffles are on the "
    "pool key, no global window, no broadcast of the corpus; at 100 TB "
    "pools are millions of prompts so both stages parallelize on the "
    "pool hash.  NULL pools are coalesced to '' identically in both "
    "engines so no pair is silently dropped by join null semantics.",
)
def rlhf_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    scored = docs.select(
        F.coalesce("source", F.lit("")).alias("source_key"),
        F.coalesce("lang", F.lit("")).alias("lang_key"),
        "doc_id",
        (
            _md5_60(F.concat(F.lit("rw:"), F.col("doc_id").cast("string")))
            % 1000000
        ).alias("reward"),
    )
    win = W.partitionBy("source_key", "lang_key").orderBy(
        F.col("reward").desc(), "doc_id"
    )
    ranked = scored.withColumn("rnk", F.row_number().over(win).cast("long"))
    chosen = ranked.filter(F.col("rnk") == 1).select(
        "source_key", "lang_key",
        F.col("doc_id").alias("chosen_id"),
        F.col("reward").alias("chosen_reward"),
    )
    rejected = ranked.filter(F.col("rnk").between(2, 4)).select(
        "source_key", "lang_key",
        F.col("doc_id").alias("rejected_id"),
        F.col("reward").alias("rejected_reward"),
        (F.col("rnk") - 1).alias("pair_rank"),
    )
    return chosen.join(rejected, ["source_key", "lang_key"]).select(
        "source_key", "lang_key", "chosen_id", "rejected_id",
        "chosen_reward", "rejected_reward",
        (F.col("chosen_reward") - F.col("rejected_reward")).alias("margin"),
        "pair_rank",
    )


# ---------------------------------------------------------------------------
# SFT loss-mask accounting
# ---------------------------------------------------------------------------


@register(
    "sft_loss_mask_stats",
    """
    WITH turns AS (
        SELECT lang,
               string_split(text, '. ') AS parts
        FROM documents WHERE text IS NOT NULL
    ), per_doc AS (
        SELECT lang,
               CAST(len(parts) AS BIGINT) AS n_turns,
               CAST(list_sum(list_transform(parts, x ->
                   CASE WHEN x = '' THEN 0
                        ELSE length(x) - length(replace(x, ' ', '')) + 1
                   END)) AS BIGINT) AS total_tokens,
               CAST(list_sum(list_transform(parts, (x, i) ->
                   CASE WHEN i % 2 = 0 THEN
                       CASE WHEN x = '' THEN 0
                            ELSE length(x) - length(replace(x, ' ', '')) + 1
                       END
                   ELSE 0 END)) AS BIGINT) AS trained_tokens
        FROM turns
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_turns) AS BIGINT) AS n_turns,
           CAST(SUM(trained_tokens) AS BIGINT) AS trained_tokens,
           CAST(SUM(total_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(trained_tokens) AS DOUBLE)
               / CAST(SUM(total_tokens) AS DOUBLE) AS trained_frac
    FROM per_doc GROUP BY lang
    """,
    tags=("textstats", "sft"),
    doc="SFT loss-mask accounting: treat each document's '. '-separated "
    "sentences as alternating user/assistant turns (1-based even = "
    "assistant = trained; odd = user = masked, the standard "
    "instruction-tuning mask) and report per-language masked/trained "
    "token totals and the trained fraction — the number that tells you "
    "how much of your SFT corpus actually produces gradient.  Token "
    "counts are the whitespace-count integer formula, identical in "
    "both engines; the fraction is one IEEE division of exact BIGINT "
    "sums.  Plan: scan -> JVM higher-order functions (transform + "
    "aggregate, no explode so no row blow-up, no Python) -> one "
    "map-side-combined hash aggregate on lang.  Embarrassingly "
    "parallel at any scale.  DuckDB's 1-based lambda index (i%2=0) "
    "corresponds to Spark's 0-based (i%2=1) — pinned by pytest.",
)
def sft_loss_mask_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir).filter(F.col("text").isNotNull())
    tok = (
        "CASE WHEN x = '' THEN 0L "
        "ELSE length(x) - length(replace(x, ' ', '')) + 1L END"
    )
    per_doc = docs.select(
        "lang",
        F.split("text", r"\. ").alias("parts"),
    ).select(
        "lang",
        F.size("parts").cast("long").alias("n_turns"),
        F.expr(
            f"aggregate(transform(parts, x -> {tok}), 0L, (a, b) -> a + b)"
        ).alias("total_tokens"),
        F.expr(
            "aggregate(transform(parts, (x, i) -> "
            f"CASE WHEN i % 2 = 1 THEN {tok} ELSE 0L END), "
            "0L, (a, b) -> a + b)"
        ).alias("trained_tokens"),
    )
    return per_doc.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_turns").cast("long").alias("n_turns"),
        F.sum("trained_tokens").cast("long").alias("trained_tokens"),
        F.sum("total_tokens").cast("long").alias("total_tokens"),
        (
            F.sum("trained_tokens").cast("double")
            / F.sum("total_tokens").cast("double")
        ).alias("trained_frac"),
    )


# ---------------------------------------------------------------------------
# Fixed-point power-iteration PCA (oracle-reproducible eigensolve)
# ---------------------------------------------------------------------------


def _pca_power_oracle_sql(
    grid: int = 4096, ascale: int = 1 << 16, xscale: int = 1 << 20,
    iters: int = 12,
) -> str:
    """Unrolled fixed-point power iteration: like the pagerank oracle,
    the iteration count is a static constant, so each ``y = A'x`` /
    max-abs rescale step is one pair of plain CTEs over the 64-row
    state.  All arithmetic is BIGINT with sign-explicit truncating
    division, replaying extensions/embeddings.pca_power_fixed bit for
    bit."""
    head = f"""
    WITH ex0 AS MATERIALIZED (
        SELECT vec_id, unnest(embedding::DOUBLE[]) AS u,
               CAST(generate_subscripts(embedding, 1) AS BIGINT) AS i
        FROM embeddings
    ),
    ex AS MATERIALIZED (
        SELECT vec_id, i, CAST(floor(u * {float(grid)!r}) AS BIGINT) AS qv
        FROM ex0
    ),
    c AS MATERIALIZED (SELECT COUNT(DISTINCT vec_id) AS n FROM ex),
    m AS MATERIALIZED (SELECT i, SUM(qv) AS mv FROM ex GROUP BY i),
    s AS MATERIALIZED (
        SELECT a.i AS i, b.i AS j, SUM(a.qv * b.qv) AS sv
        FROM ex a JOIN ex b USING (vec_id) GROUP BY a.i, b.i
    ),
    a0 AS MATERIALIZED (
        SELECT s.i, s.j, c.n * s.sv - m1.mv * m2.mv AS av
        FROM s CROSS JOIN c
        JOIN m m1 ON m1.i = s.i JOIN m m2 ON m2.i = s.j
    ),
    amax AS MATERIALIZED (SELECT MAX(abs(av)) AS mx FROM a0),
    aa AS MATERIALIZED (
        SELECT i, j,
               CASE WHEN av < 0 THEN -(((-av) * {ascale}) // mx)
                    ELSE (av * {ascale}) // mx END AS a
        FROM a0, amax
    ),
    x0 AS MATERIALIZED (SELECT i, CAST({xscale} AS BIGINT) AS x FROM m)"""
    steps = []
    for t in range(1, iters + 1):
        steps.append(f""",
    y{t} AS MATERIALIZED (
        SELECT aa.i AS i, SUM(aa.a * p.x) AS y
        FROM aa JOIN x{t - 1} p ON p.i = aa.j GROUP BY aa.i
    ),
    ym{t} AS MATERIALIZED (SELECT MAX(abs(y)) AS mx FROM y{t}),
    x{t} AS MATERIALIZED (
        SELECT i,
               CASE WHEN y < 0 THEN -(((-y) * {xscale}) // mx)
                    ELSE (y * {xscale}) // mx END AS x
        FROM y{t}, ym{t}
    )""")
    return (
        head
        + "".join(steps)
        + f""",
    sgn AS MATERIALIZED (
        SELECT CASE WHEN (
            SELECT x FROM x{iters} ORDER BY abs(x) DESC, i LIMIT 1
        ) < 0 THEN -1 ELSE 1 END AS s
    ),
    w AS MATERIALIZED (SELECT i, x * sgn.s AS w FROM x{iters}, sgn),
    md AS MATERIALIZED (SELECT SUM(m.mv * w.w) AS v FROM m JOIN w USING (i)),
    proj AS MATERIALIZED (
        SELECT ex.vec_id, SUM(ex.qv * w.w) AS d
        FROM ex JOIN w USING (i) GROUP BY ex.vec_id
    )
    SELECT e.vec_id, CAST(e.label AS INTEGER) AS label,
           CAST(c.n * p.d - md.v AS BIGINT) AS pc1n
    FROM embeddings e
    JOIN proj p ON p.vec_id = e.vec_id
    CROSS JOIN c CROSS JOIN md
    """
    )


@register(
    "embedding_pca_power",
    _pca_power_oracle_sql(),
    tags=("embeddings", "iterative"),
    doc="Top-principal-component projection by FIXED-POINT power "
    "iteration (extensions/embeddings.pca_power_fixed): vectors "
    "quantized to the 2^-12 grid, exact integer moments n / sum q / "
    "sum qq^T from ONE distributed Arrow pass (partial moments per "
    "partition, collect is O(partitions*d^2)), then 12 integer "
    "power-iteration steps on the 64x64 matrix driver-side and a "
    "scan-stage zip_with projection pc1n = n*(q.x) - (m.x).  Every "
    "step is BIGINT arithmetic with sign-explicit truncating division "
    "-> bit-identical in Python and the unrolled 12-step CTE oracle; "
    "this converts the 'needs LAPACK' eigensolve into a driver-"
    "checkable query.  Convergence caveat, stated honestly: 12 steps "
    "recover the true top PC only when the spectrum has a gap (pytest "
    "pins >0.999 correlation with eigh on planted gapped data); the "
    "synthetic corpus is near-isotropic (lambda2/lambda1 ~ 0.99), "
    "where 'the' top PC is ill-defined — there the pinned invariant "
    "is Rayleigh(direction) >= 0.9 * lambda1, and the cross-engine "
    "value hash checks the deterministic TRANSFORMATION, not eigen-"
    "optimality.  100-TB shape: the only corpus passes are the "
    "moments scan and the projection scan; the eigensolve itself "
    "touches d^2 numbers.",
)
def embedding_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..extensions.embeddings import pca_power_fixed

    return pca_power_fixed(load_table(spark, "embeddings", sf_dir))
