"""Round-12 wave: cross-lingual bitext mining — the margin-based
parallel-pair miner (Artetxe & Schwenk 2019, the CCMatrix/LASER
recipe) and its hubness audit, the one curation family the inventory
did not yet cover.  A multilingual training mix needs aligned pairs
mined from comparable corpora; raw cosine over-selects "hub" vectors
that are near everything, and the margin score (pair cosine divided by
the mean cosine of each side's k-nearest neighborhood) is the standard
correction.

The queries share one scoring tail (``_margin_select`` /
``_margin_tail_sql``), differing only in where candidate pairs come
from:

* ``mine_bitext_margin`` — the EXACT tier: every cross-parity pair
  from the blocked triangle kernel (the oracle-defining form).
* ``mine_bitext_margin_ann`` — the SCALE tier: candidates from the
  seeded-IVF retriever (``similarity.ivf_topk_blocked`` with
  ``FlatSeedCells``), neighborhoods computed within the retrieved
  candidate set (standard practice when mining with ANN).  This makes the exact tier's "at 100 TB the pair
  table comes from the ANN candidate generators" claim real, declared,
  oracle-checked code — the same promise-into-code move as
  eval_minhash_precision's literal sample cap.
* ``xlingual_hubness_audit`` — the measurement query for the hub
  pathology the margin corrects.
* ``eval_bitext_ann_agreement`` — the eval next to the approximation:
  per-source agreement between the two tiers' decisions.

Cross-engine determinism: pair cosines come from validated kernels
(the k-ordered blocked kernel / the IVF retriever's fold — both
bitwise-equal to DuckDB ``list_dot_product``); everything downstream
is exact integer arithmetic.  Cosines are shifted by +2 and floored to
1e-9 grid (``u_e9 = floor((cos + 2) * 1e9)``, always positive, so
Spark's truncating ``div`` and DuckDB's flooring ``//`` agree), and
the margin is the integer ratio ``u_e9 * 2k * 1e6 // (sum_topk_src +
sum_topk_tgt)`` — a shifted-ratio margin: > 1e6 means the pair is
closer than the average of its two k-neighborhoods, the hub-corrected
acceptance test.  Ranking keys are total orders (u_e9 desc, id asc).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..extensions import dedup, similarity
from ..sources.catalog import load_table
from .registry import register

_K = 4  # neighborhood size for the margin denominator
_ANN_CAND_K = 16  # candidates retrieved per source in the ANN tier
_ANN_CELLS = 16  # seeded-IVF cells at the declared (small-sf) scale
_ANN_PROBE = 4
_SHIFT_SQL = "CAST(floor((cosine + 2) * 1000000000) AS BIGINT)"


def _cross_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cross_pairs_from(load_table(spark, "embeddings", sf_dir))


def _cross_pairs_from(emb: DataFrame) -> DataFrame:
    """(src_id even, tgt_id odd, u_e9) for every cross-parity vector
    pair — the bipartite cosine table the exact tier scores.

    The exact tier uses the BIPARTITE block kernel
    (``dedup.embedding_cosine_pairs_bipartite``): each even block
    meets each odd block exactly once, so compute is exactly
    |src| x |tgt| cosines — the r12 form ran the same-corpus triangle
    kernel and dropped same-parity pairs, a 2x FLOP overhead (pytest
    pins the two forms pair-for-pair bitwise; the oracle is
    unchanged).  At 100 TB use ``mine_bitext_margin_ann``: margin
    scoring is oblivious to how candidates were produced; this is the
    same exact-tier/scale-tier split dedup_ngram_jaccard vs
    dedup_minhash_lsh documents.
    """
    even = emb.filter(F.pmod(F.col("vec_id"), F.lit(2)) == 0)
    odd = emb.filter(F.pmod(F.col("vec_id"), F.lit(2)) == 1)
    pairs = dedup.embedding_cosine_pairs_bipartite(even, odd)
    return pairs.select(
        F.col("id_a").alias("src_id"),
        F.col("id_b").alias("tgt_id"),
        F.floor((F.col("cosine") + F.lit(2.0)) * F.lit(1000000000.0))
        .cast("long")
        .alias("u_e9"),
    )


def _margin_select(u: DataFrame) -> DataFrame:
    """Shared scoring tail: (src_id, tgt_id, u_e9) candidate pairs ->
    per-source best pair by integer ratio margin, with mutual-best and
    margin>1 flags.  Two window ranks (one per endpoint), two
    per-endpoint sum tables joined back by key, one best-of window per
    side.

    The endpoint-sum tables and the per-target best map are
    force-broadcast (the declared small-sf operating point).  They are
    one row per DISTINCT endpoint — n_src / n_tgt rows, NOT
    driver-sized at mining scale (see SCALING.md).

    r15: ``u`` itself is eagerly checkpointed — it feeds the two
    endpoint-sum rank chains AND the margin join, so the candidate
    pair table (the bipartite cosine kernel in the exact tier) was
    computed ~3x per run; same race rationale for eager.  The endpoint
    ranks run as two INDEPENDENT single-window chains (each needs only
    its own rank; the fused two-window frame forced both rank shuffles
    into BOTH consumers).  Measured (fresh build+exec, sf0.1):
    mine_bitext_margin first-run 8.3s -> 7.5s, warm ~2.6s -> ~2.3s —
    the dominant win is eliminating the repeated kernel, which grows
    with corpus size while the saved window sorts stay candidate-set
    sized.  Note the checkpoint materializes ``u``: fine for the ANN
    tier (n_src*k rows) and for the exact tier at declared sf (the
    exact tier is itself quadratic and tagged non-scale)."""
    u = u.localCheckpoint(eager=True)
    w_src = W.partitionBy("src_id").orderBy(F.desc("u_e9"), "tgt_id")
    w_tgt = W.partitionBy("tgt_id").orderBy(F.desc("u_e9"), "src_id")
    sa = (
        u.withColumn("rk_src", F.row_number().over(w_src))
        .filter(F.col("rk_src") <= _K)
        .groupBy("src_id")
        .agg(F.sum("u_e9").alias("sum_src"))
    )
    sb = (
        u.withColumn("rk_tgt", F.row_number().over(w_tgt))
        .filter(F.col("rk_tgt") <= _K)
        .groupBy("tgt_id")
        .agg(F.sum("u_e9").alias("sum_tgt"))
    )
    m = (
        u.join(F.broadcast(sa), "src_id")
        .join(F.broadcast(sb), "tgt_id")
        .withColumn(
            "margin_ppm",
            F.expr(f"(u_e9 * {2 * _K * 1000000}L) div (sum_src + sum_tgt)"),
        )
    )
    wb_src = W.partitionBy("src_id").orderBy(
        F.desc("margin_ppm"), F.desc("u_e9"), "tgt_id"
    )
    wb_tgt = W.partitionBy("tgt_id").orderBy(
        F.desc("margin_ppm"), F.desc("u_e9"), "src_id"
    )
    best = m.withColumn("rn_src", F.row_number().over(wb_src)).withColumn(
        "rn_tgt", F.row_number().over(wb_tgt)
    )
    tgt_best = best.filter(F.col("rn_tgt") == 1).select(
        "tgt_id", F.col("src_id").alias("back_src")
    )
    return (
        best.filter(F.col("rn_src") == 1)
        .join(F.broadcast(tgt_best), "tgt_id")
        .select(
            "src_id",
            "tgt_id",
            F.col("u_e9").cast("long").alias("cos_shift_e9"),
            F.col("margin_ppm").cast("long").alias("margin_ppm"),
            (F.col("back_src") == F.col("src_id")).alias("mutual"),
            (F.col("margin_ppm") >= 1000000).alias("above_mean"),
        )
    )


_RK_SQL = """
    rk AS (
        SELECT *,
               ROW_NUMBER() OVER (PARTITION BY src_id
                                  ORDER BY u_e9 DESC, tgt_id) AS rk_src,
               ROW_NUMBER() OVER (PARTITION BY tgt_id
                                  ORDER BY u_e9 DESC, src_id) AS rk_tgt
        FROM u
    )
"""


def _margin_tail_sql() -> str:
    """DuckDB mirror of :func:`_margin_select`, appended after a CTE
    chain that defines ``u(src_id, tgt_id, u_e9)``."""
    return f""",
    {_RK_SQL},
    sa AS (SELECT src_id, SUM(u_e9) AS sum_src FROM rk
           WHERE rk_src <= {_K} GROUP BY src_id),
    sb AS (SELECT tgt_id, SUM(u_e9) AS sum_tgt FROM rk
           WHERE rk_tgt <= {_K} GROUP BY tgt_id),
    m AS (
        SELECT u.src_id, u.tgt_id, u.u_e9,
               (u.u_e9 * {2 * _K * 1000000}) // (sa.sum_src + sb.sum_tgt)
                   AS margin_ppm
        FROM u JOIN sa USING (src_id) JOIN sb USING (tgt_id)
    ),
    best AS (
        SELECT *,
               ROW_NUMBER() OVER (PARTITION BY src_id
                   ORDER BY margin_ppm DESC, u_e9 DESC, tgt_id) AS rn_src,
               ROW_NUMBER() OVER (PARTITION BY tgt_id
                   ORDER BY margin_ppm DESC, u_e9 DESC, src_id) AS rn_tgt
        FROM m
    ),
    tgt_best AS (SELECT tgt_id, src_id AS back_src FROM best WHERE rn_tgt = 1)
    SELECT b.src_id, b.tgt_id,
           CAST(b.u_e9 AS BIGINT) AS cos_shift_e9,
           CAST(b.margin_ppm AS BIGINT) AS margin_ppm,
           (tb.back_src = b.src_id) AS mutual,
           (b.margin_ppm >= 1000000) AS above_mean
    FROM best b JOIN tgt_best tb ON tb.tgt_id = b.tgt_id
    WHERE b.rn_src = 1
    """


_E_REAL = "SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings"


def _pairs_cte(e_src: str) -> str:
    return f"""
    WITH e AS ({e_src}),
    p AS (
        SELECT a.vec_id AS src_id, b.vec_id AS tgt_id,
               list_dot_product(a.v, b.v)
                   / (sqrt(list_dot_product(a.v, a.v))
                      * sqrt(list_dot_product(b.v, b.v))) AS cosine
        FROM e a JOIN e b
          ON a.vec_id % 2 = 0 AND b.vec_id % 2 = 1
    ),
    u AS (SELECT src_id, tgt_id, {_SHIFT_SQL} AS u_e9 FROM p)
"""


_PAIRS_CTE = _pairs_cte(_E_REAL)


# Seeded-IVF candidate CTE chain: the odd side plays the corpus (seeds
# come from IT), the even side the queries; mirrors
# similarity.ivf_topk(SeededQuantizer) / _ivf_seeded_oracle_sql
# restricted by parity, ending in the same u(src_id, tgt_id, u_e9)
# contract.
def _ann_pairs_cte(e_src: str) -> str:
    return f"""
    WITH e AS ({e_src}),
    eb AS (SELECT * FROM e WHERE vec_id % 2 = 1),
    seeds AS (
        SELECT ROW_NUMBER() OVER (
                   ORDER BY ((vec_id % 2147483648) * 1103515245 + 12345)
                            % 2147483648, vec_id) - 1 AS cell, v
        FROM eb
        QUALIFY cell < {_ANN_CELLS}
    ),
    assign AS (
        SELECT eb.vec_id AS tgt_id, eb.v AS cv, s.cell
        FROM eb CROSS JOIN seeds s
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY eb.vec_id
            ORDER BY list_dot_product(eb.v, s.v)
                         / sqrt(list_dot_product(s.v, s.v)) DESC, s.cell) = 1
    ),
    q AS (SELECT vec_id AS src_id, v AS qv FROM e WHERE vec_id % 2 = 0),
    probes AS (
        SELECT q.src_id, q.qv, s.cell
        FROM q CROSS JOIN seeds s
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY q.src_id
            ORDER BY list_dot_product(q.qv, s.v)
                         / sqrt(list_dot_product(s.v, s.v)) DESC, s.cell)
            <= {_ANN_PROBE}
    ),
    p AS (
        SELECT src_id, tgt_id, cosine FROM (
            SELECT pr.src_id, a.tgt_id,
                   list_dot_product(pr.qv, a.cv)
                       / (sqrt(list_dot_product(pr.qv, pr.qv))
                          * sqrt(list_dot_product(a.cv, a.cv))) AS cosine,
                   ROW_NUMBER() OVER (
                       PARTITION BY pr.src_id
                       ORDER BY list_dot_product(pr.qv, a.cv)
                           / (sqrt(list_dot_product(pr.qv, pr.qv))
                              * sqrt(list_dot_product(a.cv, a.cv))) DESC,
                           a.tgt_id) AS rnk
            FROM probes pr JOIN assign a USING (cell)
        ) t WHERE rnk <= {_ANN_CAND_K}
    ),
    u AS (SELECT src_id, tgt_id, {_SHIFT_SQL} AS u_e9 FROM p)
"""


_ANN_PAIRS_CTE = _ann_pairs_cte(_E_REAL)


@register(
    "mine_bitext_margin",
    _PAIRS_CTE + _margin_tail_sql(),
    tags=("xlingual", "similarity", "all-pairs"),
    doc="Margin-based bitext mining (Artetxe & Schwenk 2019 'ratio' "
    "margin, the CCMatrix/LASER parallel-corpus recipe): even vec_ids "
    "play the source-language side, odd the target side; each source "
    "vector nominates its best target by margin = pair-similarity / "
    "mean(top-4 neighborhood similarity of both endpoints), with "
    "`mutual` marking pairs where the target's best source points "
    "back (the paper's intersection strategy) and `above_mean` the "
    "margin>1 acceptance test that suppresses hub matches raw cosine "
    "would emit.  All scoring downstream of the bitwise-stable pair "
    "cosines is exact integer arithmetic (shifted 1e-9-grid "
    "similarities, integer-ratio margin in ppm).  Scale shape: pair "
    "generation is the bipartite block kernel at the exact tier "
    "(exactly |src| x |tgt| cosines spread over uniform hash-block "
    "tasks — r13 halved the r12 triangle+filter form); the two "
    "neighborhood sums are window ranks over the pair table "
    "partitioned by each endpoint; sums join back by key.  At 100 TB "
    "use mine_bitext_margin_ann — same scoring tail, subquadratic "
    "candidate generation.",
)
def mine_bitext_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _margin_select(_cross_pairs(spark, sf_dir))


@register(
    "mine_bitext_margin_ann",
    _ANN_PAIRS_CTE + _margin_tail_sql(),
    tags=("xlingual", "similarity", "approx"),
    doc="The SCALE tier of mine_bitext_margin: candidate pairs come "
    "from the seeded-IVF retriever (every even vector queries the odd "
    f"side's {_ANN_CELLS}-cell/{_ANN_PROBE}-probe index for its top-"
    f"{_ANN_CAND_K} candidates — similarity.ivf_topk with the "
    "oracle-reproducible SeededQuantizer), and the margin neighborhoods are "
    "computed WITHIN the retrieved candidate set, the standard "
    "practice when mining with ANN (the src neighborhood is its "
    "retrieved list; the tgt neighborhood is the sources that "
    "retrieved it — exactly the hub evidence).  Identical scoring "
    "tail and output schema as the exact tier.  The retriever is the "
    "BLOCKED kernel (similarity.ivf_topk_blocked with FlatSeedCells): "
    "Arrow cell-matrix "
    "scoring, pytest-pinned bitwise-equal to the literal-expression "
    "form — every-vector-is-a-query workloads need cells ~ "
    "sqrt(corpus), where the expression form's n_cells x dim plan "
    "literals stop compiling.  Scale: compute is O(n_src * corpus * "
    "n_probe / cells) cosines inside per-cell numpy blocks; shuffle "
    "is corpus + n_src*n_probe rows in, n_src*n_probe*k_cand rows "
    f"out — candidate pairs never materialize.  Declared literals "
    f"({_ANN_CELLS} cells) are the oracle-checkable small-sf "
    "operating point; SCALING.md measures the sqrt(n) configuration "
    "at 800k vectors.",
)
def mine_bitext_margin_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ann_margin_from(load_table(spark, "embeddings", sf_dir))


def _ann_margin_from(emb: DataFrame) -> DataFrame:
    even = emb.filter(F.pmod(F.col("vec_id"), F.lit(2)) == 0)
    odd = emb.filter(F.pmod(F.col("vec_id"), F.lit(2)) == 1)
    # hot_cell_rows: the auto hub valve (r14) — per-cell splits derive
    # from a sampled count against the literal HOT_CELL_ROWS_DEFAULT
    # threshold; never triggers at the oracle operating point (cells
    # are ~n/16 rows) and output is split-invariant when it does
    cand = similarity.ivf_topk_blocked(
        odd,
        even,
        similarity.FlatSeedCells(_ANN_CELLS, _ANN_PROBE),
        k=_ANN_CAND_K,
        hot_cell_rows=similarity.HOT_CELL_ROWS_DEFAULT,
    )
    u = cand.select(
        F.col("query_id").alias("src_id"),
        F.col("neighbor_id").alias("tgt_id"),
        F.floor((F.col("cosine") + F.lit(2.0)) * F.lit(1000000000.0))
        .cast("long")
        .alias("u_e9"),
    )
    return _margin_select(u)


@register(
    "xlingual_hubness_audit",
    _PAIRS_CTE
    + f""",
    {_RK_SQL}
    SELECT tgt_id,
           CAST(COUNT(*) AS BIGINT) AS hub_count,
           CAST(MAX(u_e9) AS BIGINT) AS max_cos_shift_e9
    FROM rk WHERE rk_src <= {_K}
    GROUP BY tgt_id
    """,
    tags=("xlingual", "similarity", "eval", "all-pairs"),
    doc="Hubness audit for the bitext miner: for every target vector, "
    "how many sources hold it in their raw-cosine top-4 (`hub_count`; "
    "uniform expectation is k * |src| / |tgt| = 4) and its best "
    "shifted similarity.  High-degree rows are the hub vectors — the "
    "known high-dimensional pathology that makes raw-cosine mining "
    "precision collapse and that mine_bitext_margin's denominator "
    "normalizes away; this is the measurement query that says whether "
    "the corpus needs margin correction at all (the eval-next-to-"
    "approximation convention of eval_minhash_precision / "
    "eval_pq_recall).  Same pair table and scale shape as the miner: "
    "one window rank partitioned by source, one aggregate by target.",
)
def xlingual_hubness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    u = _cross_pairs(spark, sf_dir)
    w_src = W.partitionBy("src_id").orderBy(F.desc("u_e9"), "tgt_id")
    return (
        u.withColumn("rk_src", F.row_number().over(w_src))
        .filter(F.col("rk_src") <= _K)
        .groupBy("tgt_id")
        .agg(
            F.count("*").cast("long").alias("hub_count"),
            F.max("u_e9").cast("long").alias("max_cos_shift_e9"),
        )
    )


def _agreement_oracle_sql(exact_sql: str, ann_sql: str) -> str:
    """One-row agreement oracle shared by the isotropic and clustered
    tiers (shared builder so the two oracles cannot drift — the
    split_case_oracle_sql convention).  Beyond per-source same-best
    agreement, it scores the ACCEPT DECISION a mining run acts on —
    a pair is accepted when it is mutual-best AND margin>1 (the
    paper's intersection + threshold strategy) — and reports how much
    of the exact tier's accepted pair set the ANN tier recovers with
    the identical pair and decisions (``accept_recall_ppm``;
    denominator clamped to 1 so the zero-accepted corpus stays a
    deterministic integer row in both engines)."""
    return f"""
    WITH exact AS (
        SELECT * FROM ({exact_sql}) t_exact
    ),
    ann AS (
        SELECT * FROM ({ann_sql}) t_ann
    ),
    j AS (
        SELECT e.src_id,
               (a.src_id IS NOT NULL) AS covered,
               COALESCE(a.tgt_id = e.tgt_id, FALSE) AS same_best,
               e.above_mean AS exact_above,
               COALESCE(a.above_mean, FALSE) AS ann_above,
               e.mutual AS exact_mutual,
               COALESCE(a.mutual, FALSE) AS ann_mutual,
               (e.mutual AND e.above_mean) AS exact_acc,
               (COALESCE(a.mutual, FALSE) AND COALESCE(a.above_mean, FALSE))
                   AS ann_acc
        FROM exact e LEFT JOIN ann a USING (src_id)
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_src,
           CAST(SUM(CASE WHEN covered THEN 1 ELSE 0 END) AS BIGINT)
               AS n_covered,
           CAST(SUM(CASE WHEN same_best THEN 1 ELSE 0 END) AS BIGINT)
               AS n_same_best,
           CAST(SUM(CASE WHEN exact_above THEN 1 ELSE 0 END) AS BIGINT)
               AS n_exact_above_mean,
           CAST(SUM(CASE WHEN ann_above THEN 1 ELSE 0 END) AS BIGINT)
               AS n_ann_above_mean,
           CAST(SUM(CASE WHEN exact_mutual THEN 1 ELSE 0 END) AS BIGINT)
               AS n_exact_mutual,
           CAST(SUM(CASE WHEN ann_mutual THEN 1 ELSE 0 END) AS BIGINT)
               AS n_ann_mutual,
           CAST(SUM(CASE WHEN same_best THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS agree_ppm,
           CAST(SUM(CASE WHEN exact_acc THEN 1 ELSE 0 END) AS BIGINT)
               AS n_exact_accepted,
           CAST(SUM(CASE WHEN ann_acc THEN 1 ELSE 0 END) AS BIGINT)
               AS n_ann_accepted,
           CAST(SUM(CASE WHEN same_best AND exact_acc AND ann_acc
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_accept_recovered,
           CAST(SUM(CASE WHEN same_best AND exact_acc AND ann_acc
                    THEN 1 ELSE 0 END) * 1000000
                // GREATEST(SUM(CASE WHEN exact_acc THEN 1 ELSE 0 END), 1)
                AS BIGINT) AS accept_recall_ppm
    FROM j
    """


@register(
    "eval_bitext_ann_agreement",
    _agreement_oracle_sql(
        _PAIRS_CTE + _margin_tail_sql(),
        _ANN_PAIRS_CTE + _margin_tail_sql(),
    ),
    tags=("xlingual", "eval", "all-pairs"),
    doc="Agreement eval for the ANN bitext tier — the eval-next-to-"
    "approximation convention (eval_pq_recall / eval_minhash_"
    "precision) applied to mine_bitext_margin_ann: per-source, does "
    "the IVF-candidate miner nominate the SAME best target the exact "
    "all-pairs tier does, and do the margin>1 / mutual-best "
    "acceptance decisions survive the approximation?  One integer "
    "row: sources, ANN coverage, same-best agreement (and as ppm), "
    "above-mean and mutual counts under both tiers, and (r13) the "
    "ACCEPT-DECISION recovery a mining run acts on: of the exact "
    "tier's accepted pairs (mutual-best AND margin>1, the paper's "
    "intersection + threshold strategy), how many the ANN tier mines "
    "with the identical pair and decisions (accept_recall_ppm) — the "
    "go/no-go read on the (cells, probes, k_cand) operating point "
    "before a 100 TB mining run trusts it.  Composes the two declared "
    "queries unchanged (both oracle-green individually); one left "
    "join on src_id + one aggregate on top.",
)
def eval_bitext_ann_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _agreement_frame(
        mine_bitext_margin(spark, sf_dir), mine_bitext_margin_ann(spark, sf_dir)
    )


def _agreement_frame(exact: DataFrame, ann: DataFrame) -> DataFrame:
    ann = ann.select(
        "src_id",
        F.col("tgt_id").alias("a_tgt"),
        F.col("mutual").alias("a_mutual"),
        F.col("above_mean").alias("a_above"),
    )
    j = exact.join(ann, "src_id", "left").select(
        F.col("a_tgt").isNotNull().alias("covered"),
        F.coalesce(F.col("a_tgt") == F.col("tgt_id"), F.lit(False)).alias(
            "same_best"
        ),
        F.col("above_mean").alias("exact_above"),
        F.coalesce(F.col("a_above"), F.lit(False)).alias("ann_above"),
        F.col("mutual").alias("exact_mutual"),
        F.coalesce(F.col("a_mutual"), F.lit(False)).alias("ann_mutual"),
        (F.col("mutual") & F.col("above_mean")).alias("exact_acc"),
        (
            F.coalesce(F.col("a_mutual"), F.lit(False))
            & F.coalesce(F.col("a_above"), F.lit(False))
        ).alias("ann_acc"),
    )
    cnt = lambda c: F.sum(F.when(F.col(c), 1).otherwise(0)).cast("long")  # noqa: E731
    return j.agg(
        F.count("*").cast("long").alias("n_src"),
        cnt("covered").alias("n_covered"),
        cnt("same_best").alias("n_same_best"),
        cnt("exact_above").alias("n_exact_above_mean"),
        cnt("ann_above").alias("n_ann_above_mean"),
        cnt("exact_mutual").alias("n_exact_mutual"),
        cnt("ann_mutual").alias("n_ann_mutual"),
        F.expr("sum(CASE WHEN same_best THEN 1 ELSE 0 END) * 1000000L div count(*)")
        .cast("long")
        .alias("agree_ppm"),
        cnt("exact_acc").alias("n_exact_accepted"),
        cnt("ann_acc").alias("n_ann_accepted"),
        F.expr(
            "sum(CASE WHEN same_best AND exact_acc AND ann_acc"
            " THEN 1 ELSE 0 END)"
        ).cast("long").alias("n_accept_recovered"),
        F.expr(
            "sum(CASE WHEN same_best AND exact_acc AND ann_acc"
            " THEN 1 ELSE 0 END) * 1000000L div"
            " greatest(sum(CASE WHEN exact_acc THEN 1 ELSE 0 END), 1L)"
        ).cast("long").alias("accept_recall_ppm"),
    )


# ---------------------------------------------------------------------------
# Round-13: the clustered-fixture tier of the agreement eval (r12
# VERDICT item 4).  The isotropic reading (~50% same-best on the real
# synthetic embeddings) correctly shows near-tie sensitivity, but never
# demonstrates the regime where ANN IS trustworthy.  This fixture is a
# deterministic clustered embedding corpus both engines generate from
# pure integer LCG arithmetic (exact doubles: every op is a power-of-2
# scale or an exact int->double conversion, so Spark and DuckDB agree
# bitwise — pytest pins it): 8 well-separated cluster centers (base
# pattern from LCG(cluster*dim+j)), per-vector noise at 0.125 amplitude
# (same-cluster cosine ~0.99, cross ~0.2), and cluster = (vec_id div 2)
# % 8 so every source shares its cluster with targets.
# ---------------------------------------------------------------------------

_DIM = 64
_LCG_M, _LCG_A, _LCG_C = 2147483648, 1103515245, 12345

_E_CLUSTERED = f"""SELECT vec_id, list_transform(range({_DIM}), j ->
            (2.0 * (((((((vec_id // 2) % 8) * {_DIM}) + j) % {_LCG_M})
                     * {_LCG_A} + {_LCG_C}) % {_LCG_M} / {_LCG_M}.0) - 1.0)
            + 0.125 * ((2.0 * ((((vec_id * {_DIM} + j) % {_LCG_M})
                     * {_LCG_A} + {_LCG_C}) % {_LCG_M} / {_LCG_M}.0) - 1.0))
        ) AS v FROM embeddings"""


def clustered_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark side of ``_E_CLUSTERED`` — same vec_ids as the real
    table (row count scales with sf), vectors replaced by the seeded
    clustered fixture.  Kept public so tests pin Spark==DuckDB bitwise."""
    emb = load_table(spark, "embeddings", sf_dir).select("vec_id")

    def u(i):
        return ((i % F.lit(_LCG_M)) * F.lit(_LCG_A) + F.lit(_LCG_C)) % F.lit(
            _LCG_M
        ) / F.lit(float(_LCG_M))

    cell = F.expr("vec_id div 2") % 8
    vec = F.transform(
        F.sequence(F.lit(0).cast("long"), F.lit(_DIM - 1).cast("long")),
        lambda j: (F.lit(2.0) * u(cell * _DIM + j) - F.lit(1.0))
        + F.lit(0.125) * (F.lit(2.0) * u(F.col("vec_id") * _DIM + j) - F.lit(1.0)),
    )
    return emb.select("vec_id", vec.alias("embedding"))


@register(
    "eval_bitext_ann_agreement_clustered",
    _agreement_oracle_sql(
        _pairs_cte(_E_CLUSTERED) + _margin_tail_sql(),
        _ann_pairs_cte(_E_CLUSTERED) + _margin_tail_sql(),
    ),
    tags=("xlingual", "eval", "all-pairs"),
    doc="The clustered-corpus tier of eval_bitext_ann_agreement — the "
    "other half of the ANN tier's operating envelope.  The isotropic "
    "row honestly reads ~50% same-best (near-isotropic synthetic "
    "vectors make best-vs-runner-up a coin flip any candidate pruning "
    "can tip); this row runs the SAME two miners (exact all-pairs vs "
    "seeded-IVF candidates, both production code paths, unchanged) "
    "over a deterministic clustered fixture — 8 well-separated LCG-"
    "seeded cluster centers, 0.125-amplitude per-vector noise, "
    "clusters shared across the src/tgt parity split — where the best "
    "target is unambiguous, and agreement is expected HIGH (pytest "
    "asserts >= 90% same-best and that it strictly exceeds the "
    "isotropic reading).  Together the two rows document WHEN the ANN "
    "tier is trustworthy: clustered corpora yes, near-isotropic near-"
    "tie corpora no — the go/no-go pair for a 100 TB mining run.  The "
    "fixture is exact integer LCG arithmetic scaled by powers of two, "
    "so both engines generate bit-identical doubles (pytest pins "
    "Spark==DuckDB on the vectors themselves).",
)
def eval_bitext_ann_agreement_clustered(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = clustered_embeddings(spark, sf_dir)
    return _agreement_frame(_cross_pairs_from(emb).transform(_margin_select),
                            _ann_margin_from(emb))
