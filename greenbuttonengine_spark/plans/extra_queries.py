"""Round-5 additions: attribution, event transitions, CDC-latest,
weighted sampling, bigram-LM document scoring, contamination spans.

Registered LAST in ``__spark_entry__._registry`` on purpose: the
driver's correctness gate verifies a 50-row budget per round in
registry order, and this round already carries 44 never-checked
queries (the TPC-H tail handoff).  The first entries here take the
remaining in-budget slots; the rest were deferred BEHIND the rotated
re-check block (ADVICE r4: keep re-check slots) and got their driver
rows the round after.

Cross-engine exactness follows the registry's house rules: integer
bit-length surprisal instead of fp log, single correctly-rounded
double divisions of exact integers, explicit total-order window keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..extensions import decontam, dedup, sampling, textstats
from ..sources.catalog import load_table
from .registry import register


@register(
    "text_doc_bigram_surprisal",
    r"""
    WITH b AS (
        SELECT doc_id,
               unnest([array_to_string(ws[i:i+1], ' ')
                       for i in generate_series(1, len(ws) - 1)]) AS bg
        FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
              FROM documents) t
    ), c AS (
        SELECT bg, CAST(COUNT(*) AS BIGINT) AS c12 FROM b GROUP BY bg
    ), ctx AS (
        SELECT split_part(bg, ' ', 1) AS w1, CAST(SUM(c12) AS BIGINT) AS c1
        FROM c GROUP BY 1
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM((length(bin(c1)) - 1) - (length(bin(c12)) - 1))
                AS BIGINT) AS sum_surprisal_bits,
           CAST(SUM((length(bin(c1)) - 1) - (length(bin(c12)) - 1))
                AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_surprisal_bits
    FROM b JOIN c USING (bg)
           JOIN ctx ON split_part(b.bg, ' ', 1) = ctx.w1
    GROUP BY doc_id
    """,
    tags=("textstats", "lm"),
    doc="Bigram-LM surprisal scoring (second-order CCNet-style quality "
    "signal): each bigram occurrence scores ilog2(C(w1 *))-ilog2(C(w1 w2)) "
    "bits against the corpus-estimated bigram LM, so improbable word "
    "TRANSITIONS (shuffled text, keyword spam) score high even when "
    "every word is common. One bigram-count shuffle (map-side combine), "
    "O(vocab) context re-aggregate, one un-hinted equi-join back "
    "(AQE promotes/broadcasts when small; skew-splits hot pairs).",
)
def text_doc_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.doc_bigram_surprisal(load_table(spark, "documents", sf_dir))


@register(
    "decontam_contig_spans",
    r"""
    WITH ev AS (
        SELECT DISTINCT unnest(list_distinct(
                   [array_to_string(ws[i:i+2], ' ')
                    for i in generate_series(1, len(ws) - 2)])) AS g
        FROM (SELECT list_filter(string_split_regex(text, '\s+'), w -> w <> '') AS ws
              FROM documents WHERE doc_id % 97 = 0)
    ), tr AS (
        SELECT doc_id,
               unnest(generate_series(1, len(ws) - 2)) - 1 AS pos,
               unnest([array_to_string(ws[i:i+2], ' ')
                       for i in generate_series(1, len(ws) - 2)]) AS g
        FROM (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), w -> w <> '') AS ws
              FROM documents WHERE doc_id % 97 <> 0) t
    ), h AS (
        SELECT tr.doc_id, tr.pos FROM tr JOIN ev USING (g)
    ), r AS (
        SELECT doc_id, pos,
               pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        FROM h
    )
    SELECT doc_id,
           CAST(MIN(pos) + 1 AS BIGINT) AS span_start,
           CAST(COUNT(*) AS BIGINT) AS span_grams,
           CAST(COUNT(*) + 2 AS BIGINT) AS span_words
    FROM r GROUP BY doc_id, grp
    HAVING COUNT(*) >= 2
    """,
    tags=("decontam",),
    doc="Contiguous contaminated spans: maximal runs of consecutive "
    "word positions whose 3-grams all hit the eval set (doc_id % 97), "
    "the PaLM/GPT-3 decontamination distinction — long verbatim runs "
    "are quotation, scattered hits are chance. Positional grams via "
    "one zip/posexplode pass, broadcast eval-hash probe, then "
    "gaps-and-islands (pos - row_number, window partitioned by doc); "
    "only hit positions ride the window, never text.",
)
def decontam_contig_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    eval_df = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    return decontam.contamination_spans(train, eval_df, n=3, min_grams=2)


@register(
    "attribution_linear_clicks",
    r"""
    WITH e AS (
        SELECT event_id, user_id, ts, event_type,
               last_value(CASE WHEN event_type = 'purchase' THEN event_id END
                          IGNORE NULLS)
                   OVER (PARTITION BY user_id
                         ORDER BY ts DESC, event_id DESC
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS purchase_id
        FROM events WHERE event_type IN ('click', 'purchase')
    ), c AS (
        SELECT event_id AS click_id, user_id, purchase_id
        FROM e WHERE event_type = 'click' AND purchase_id IS NOT NULL
    ), n AS (
        SELECT purchase_id, COUNT(*) AS n_clicks FROM c GROUP BY purchase_id
    )
    SELECT c.click_id, c.user_id, c.purchase_id,
           CAST(n.n_clicks AS BIGINT) AS n_clicks,
           1.0 / CAST(n.n_clicks AS DOUBLE) AS weight
    FROM c JOIN n USING (purchase_id)
    """,
    tags=("events", "attribution"),
    doc="Linear multi-touch attribution: every click is credited to "
    "the next purchase by the same user (at-or-after in (ts, event_id) "
    "order), weight 1/n over that purchase's clicks — the standard "
    "equal-credit model. One per-user window (descending scan with "
    "last_value IGNORE NULLS finds the nearest following purchase "
    "without a range self-join), one count aggregate joined back; "
    "1/n is one exact int division.",
)
def attribution_linear_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir).filter(
        F.col("event_type").isin("click", "purchase")
    )
    w = (
        W.partitionBy("user_id")
        .orderBy(F.desc("ts"), F.desc("event_id"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    e = ev.withColumn(
        "purchase_id",
        F.last(
            F.when(F.col("event_type") == "purchase", F.col("event_id")),
            ignorenulls=True,
        ).over(w),
    )
    c = e.filter(
        (F.col("event_type") == "click") & F.col("purchase_id").isNotNull()
    ).select(F.col("event_id").alias("click_id"), "user_id", "purchase_id")
    n = c.groupBy("purchase_id").agg(F.count("*").alias("n_clicks"))
    return c.join(n, "purchase_id").select(
        "click_id",
        "user_id",
        "purchase_id",
        F.col("n_clicks").cast("long").alias("n_clicks"),
        (F.lit(1.0) / F.col("n_clicks").cast("double")).alias("weight"),
    )


@register(
    "sample_weighted_chars",
    r"""
    WITH m AS (SELECT CAST(MAX(n_chars) AS DOUBLE) AS mx FROM documents)
    SELECT doc_id, lang, source, n_chars,
           CAST(least(CAST(floor(CAST(n_chars AS DOUBLE) * 5000.0 / mx)
                           AS BIGINT), 10000) AS DOUBLE) / 10000.0 AS keep_prob
    FROM documents CROSS JOIN m
    WHERE ((doc_id % 2147483648) * 1103515245 + 12345) // 65536 % 10000
          < least(CAST(floor(CAST(n_chars AS DOUBLE) * 5000.0 / mx) AS BIGINT),
                  10000)
    """,
    tags=("sampling", "tiny-bnlj"),
    doc="Weight-proportional Bernoulli sampling: keep-prob 0.5 * "
    "n_chars / max(n_chars), with keep_prob emitted for 1/p "
    "Horvitz-Thompson reweighting. Bernoulli rather than exact-k "
    "weighted reservoir because u^(1/w) ordering rides libm pow "
    "(not cross-engine-stable), while this rule is one exact division "
    "+ multiply against the integer LCG bucket. One scalar max "
    "broadcast onto a scan-stage filter; no shuffle, no RNG state.",
)
def sample_weighted_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return sampling.sample_weighted(
        docs, "n_chars", "doc_id", rate_per_max=0.5
    ).select("doc_id", "lang", "source", "n_chars", "keep_prob")


@register(
    "user_event_transitions",
    r"""
    WITH s AS (
        SELECT user_id, event_type,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS next_type
        FROM events
    ), t AS (
        SELECT event_type AS from_type, next_type AS to_type,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM s WHERE next_type IS NOT NULL
        GROUP BY 1, 2
    ), tot AS (
        SELECT from_type, SUM(n) AS total FROM t GROUP BY from_type
    )
    SELECT t.from_type, t.to_type, t.n,
           CAST(t.n AS DOUBLE) / CAST(tot.total AS DOUBLE) AS p
    FROM t JOIN tot USING (from_type)
    """,
    tags=("events",),
    doc="First-order Markov transition matrix over user event streams: "
    "P(next | current) = exact count ratio, the session-model / "
    "next-action-prediction primitive. One per-user lead() window "
    "(partitioned, never global), one (from, to) count shuffle with "
    "map-side combine, O(event_types) marginal re-aggregate joined "
    "back — the transition table is O(types^2) rows regardless of "
    "corpus size.",
)
def user_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    s = ev.withColumn(
        "next_type",
        F.lead("event_type").over(
            W.partitionBy("user_id").orderBy("ts", "event_id")
        ),
    )
    t = (
        s.filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count("*").cast("long").alias("n"))
    )
    tot = t.groupBy("from_type").agg(F.sum("n").alias("total"))
    return t.join(tot, "from_type").select(
        "from_type",
        "to_type",
        "n",
        (F.col("n").cast("double") / F.col("total").cast("double")).alias("p"),
    )


@register(
    "o11_latest_per_key",
    r"""
    SELECT user_id, event_type, event_id AS last_event_id, ts AS last_ts,
           value AS last_value
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                     ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ) WHERE rn = 1
    """,
    tags=("events", "cdc"),
    doc="Latest-record-per-key dedup (the CDC/SCD 'current snapshot' "
    "compaction every changelog consumer runs): one row per "
    "(user, event_type), the max-(ts, event_id) record. Partitioned "
    "row_number window with an explicit total-order tiebreak — at "
    "scale this is the standard upsert-view materialization; Spark "
    "plans one hash shuffle on the key then a sorted window, and AQE "
    "coalesces the post-filter output.",
)
def o11_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    rn = F.row_number().over(
        W.partitionBy("user_id", "event_type").orderBy(
            F.desc("ts"), F.desc("event_id")
        )
    )
    return (
        ev.withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            F.col("event_id").alias("last_event_id"),
            F.col("ts").alias("last_ts"),
            F.col("value").alias("last_value"),
        )
    )


@register(
    "embedding_centroid_similarity",
    r"""
    WITH qv AS (
        SELECT label,
               unnest([i for i in generate_series(0, len(embedding) - 1)]) AS dim,
               unnest([CAST(round(CAST(x AS DOUBLE) * 4096) AS BIGINT)
                       for x in embedding]) AS q
        FROM embeddings
    ), s AS (
        SELECT label, dim, CAST(SUM(q) AS BIGINT) AS s FROM qv GROUP BY 1, 2
    ), nrm AS (
        SELECT label, CAST(SUM(s * s) AS BIGINT) AS d2 FROM s GROUP BY 1
    ), num AS (
        SELECT a.label AS label_a, b.label AS label_b,
               CAST(SUM(a.s * b.s) AS BIGINT) AS n
        FROM s a JOIN s b ON a.dim = b.dim AND a.label < b.label
        GROUP BY 1, 2
    )
    SELECT CAST(label_a AS BIGINT) AS label_a,
           CAST(label_b AS BIGINT) AS label_b,
           CAST(num.n AS DOUBLE)
               / (sqrt(CAST(na.d2 AS DOUBLE)) * sqrt(CAST(nb.d2 AS DOUBLE)))
               AS cosine
    FROM num
    JOIN nrm na ON na.label = num.label_a
    JOIN nrm nb ON nb.label = num.label_b
    """,
    tags=("embeddings",),
    doc="Pairwise cosine similarity between per-label centroid "
    "directions — the class-confusability / cluster-drift monitor. "
    "Components quantize to the exact 2^-12 binary grid so the "
    "centroid numerators are exact BIGINTs (bounded 2^57 even at "
    "20k vecs/label); dot products and norms stay in integer "
    "arithmetic and the ONLY float ops are the final correctly-"
    "rounded sqrt/multiply/divide — bit-identical across engines "
    "without decimal casts. Scale shape: posexplode + one "
    "(label, dim) hash agg (wire = labels x dims rows regardless of "
    "corpus size), then an O(labels^2 x dims) equi-join on dim over "
    "the tiny aggregate.",
)
def embedding_centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    q = emb.select(
        F.col("label").cast("long").alias("label"),
        F.posexplode(
            F.transform(
                F.col("embedding").cast("array<double>"),
                lambda x: F.round(x * F.lit(4096.0)).cast("long"),
            )
        ).alias("dim", "q"),
    )
    s = q.groupBy("label", "dim").agg(F.sum("q").alias("s"))
    nrm = s.groupBy("label").agg(F.sum(F.col("s") * F.col("s")).alias("d2"))
    a = s.select(
        F.col("label").alias("label_a"), F.col("dim").alias("dim"), F.col("s").alias("sa")
    )
    b = s.select(
        F.col("label").alias("label_b"), F.col("dim").alias("dim"), F.col("s").alias("sb")
    )
    num = (
        a.join(b, "dim")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(F.sum(F.col("sa") * F.col("sb")).alias("n"))
    )
    na = nrm.select(F.col("label").alias("label_a"), F.col("d2").alias("da"))
    nb = nrm.select(F.col("label").alias("label_b"), F.col("d2").alias("db"))
    return (
        num.join(na, "label_a")
        .join(nb, "label_b")
        .select(
            "label_a",
            "label_b",
            (
                F.col("n").cast("double")
                / (
                    F.sqrt(F.col("da").cast("double"))
                    * F.sqrt(F.col("db").cast("double"))
                )
            ).alias("cosine"),
        )
    )


def _pca_project_oracle_sql(
    k: int = 8, grid: int = 4096, ascale: int = 1 << 16,
    xscale: int = 1 << 20, iters: int = 12,
) -> str:
    """Unrolled fixed-point DEFLATED power iteration (k components):
    the embedding_pca_power oracle pattern repeated k times, with a
    Hotelling deflation ``A <- A*(w.w)^2 - (w.A.w) w w^T`` (HUGEINT —
    intermediates reach ~2^109) + rescale-to-2^16 between components.
    Replays extensions/embeddings.power_deflate_components bit for
    bit; every division is sign-explicit truncating."""
    sdiv_a = (
        f"CASE WHEN av < 0 THEN -(((-av) * {ascale}) // mx) "
        f"ELSE (av * {ascale}) // mx END"
    )
    sdiv_x = (
        f"CASE WHEN y < 0 THEN -(((-y) * {xscale}) // mx) "
        f"ELSE (y * {xscale}) // mx END"
    )
    parts = [f"""
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
    a0r AS MATERIALIZED (
        SELECT s.i, s.j, c.n * s.sv - m1.mv * m2.mv AS av
        FROM s CROSS JOIN c
        JOIN m m1 ON m1.i = s.i JOIN m m2 ON m2.i = s.j
    ),
    a0m AS MATERIALIZED (SELECT MAX(abs(av)) AS mx FROM a0r),
    a1 AS MATERIALIZED (SELECT i, j, {sdiv_a} AS a FROM a0r, a0m)"""]
    for comp in range(1, k + 1):
        parts.append(f""",
    x{comp}_0 AS (SELECT i, CAST({xscale} AS BIGINT) AS x FROM m)""")
        for t in range(1, iters + 1):
            parts.append(f""",
    y{comp}_{t} AS (
        SELECT a.i AS i, SUM(a.a * p.x) AS y
        FROM a{comp} a JOIN x{comp}_{t - 1} p ON p.i = a.j GROUP BY a.i
    ),
    ym{comp}_{t} AS (SELECT MAX(abs(y)) AS mx FROM y{comp}_{t}),
    x{comp}_{t} AS MATERIALIZED (
        SELECT i, {sdiv_x} AS x FROM y{comp}_{t}, ym{comp}_{t}
    )""")
        parts.append(f""",
    sg{comp} AS (
        SELECT CASE WHEN (
            SELECT x FROM x{comp}_{iters} ORDER BY abs(x) DESC, i LIMIT 1
        ) < 0 THEN -1 ELSE 1 END AS s
    ),
    w{comp} AS MATERIALIZED (
        SELECT i, x * sg{comp}.s AS w FROM x{comp}_{iters}, sg{comp}
    ),
    md{comp} AS MATERIALIZED (
        SELECT SUM(m.mv * w.w) AS v FROM m JOIN w{comp} w USING (i)
    ),
    pj{comp} AS MATERIALIZED (
        SELECT ex.vec_id, SUM(ex.qv * w.w) AS d
        FROM ex JOIN w{comp} w USING (i) GROUP BY ex.vec_id
    )""")
        if comp < k:
            parts.append(f""",
    w2_{comp} AS MATERIALIZED (
        SELECT SUM(CAST(w AS HUGEINT) * w) AS v FROM w{comp}
    ),
    waw_{comp} AS MATERIALIZED (
        SELECT SUM(CAST(wi.w AS HUGEINT) * a.a * wj.w) AS v
        FROM a{comp} a
        JOIN w{comp} wi ON wi.i = a.i JOIN w{comp} wj ON wj.i = a.j
    ),
    ar_{comp} AS MATERIALIZED (
        SELECT a.i, a.j,
               CAST(a.a AS HUGEINT) * w2.v * w2.v - waw.v * wi.w * wj.w
                   AS av
        FROM a{comp} a CROSS JOIN w2_{comp} w2 CROSS JOIN waw_{comp} waw
        JOIN w{comp} wi ON wi.i = a.i JOIN w{comp} wj ON wj.i = a.j
    ),
    am_{comp} AS MATERIALIZED (SELECT MAX(abs(av)) AS mx FROM ar_{comp}),
    a{comp + 1} AS MATERIALIZED (
        SELECT i, j, CAST({sdiv_a} AS BIGINT) AS a FROM ar_{comp}, am_{comp}
    )""")
    proj_cols = ",\n           ".join(
        f"CAST(c.n * p{j}.d - md{j}.v AS BIGINT) AS pc{j}n"
        for j in range(1, k + 1)
    )
    joins = "\n    ".join(
        f"JOIN pj{j} p{j} ON p{j}.vec_id = e.vec_id" for j in range(1, k + 1)
    )
    crosses = " ".join(f"CROSS JOIN md{j}" for j in range(1, k + 1))
    parts.append(f"""
    SELECT e.vec_id, CAST(e.label AS INTEGER) AS label,
           {proj_cols}
    FROM embeddings e
    {joins}
    CROSS JOIN c {crosses}
    """)
    return "".join(parts)


@register(
    "embedding_pca_project",
    _pca_project_oracle_sql(),
    tags=("embeddings", "iterative"),
    doc="Top-8 PCA projection by FIXED-POINT deflated power iteration "
    "— the k-component extension of embedding_pca_power, closing its "
    "rows-only gap (r9 VERDICT item 1): exact integer moments n / "
    "sum q / sum qq^T from ONE distributed Arrow pass, then per "
    "component 12 integer power steps on the 64x64 matrix driver-side "
    "with Hotelling deflation A <- A*(w.w)^2 - (w.A.w) w w^T between "
    "components (deflation intermediates ~2^109: Python ints are "
    "exact, the oracle carries them as HUGEINT, final values CAST to "
    "BIGINT — the q12 dtype lesson).  Projection pc_cn = n*(q.w_c) - "
    "(m.w_c) is emitted as FLAT unrolled literal expressions over "
    "per-dim scalar columns (the 52x PQ-encode pattern), scan-stage "
    "only, no Python, no shuffle.  Convergence caveat as in "
    "embedding_pca_power: on the near-isotropic synthetic corpus the "
    "hash pins the deterministic TRANSFORMATION; pytest pins subspace "
    "quality vs numpy eigh on planted gapped data.  100-TB shape: "
    "two scan passes "
    "(moments, projection); the eigensolve touches d^2 numbers.",
)
def embedding_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..extensions.embeddings import pca_project_fixed

    emb = load_table(spark, "embeddings", sf_dir)
    return pca_project_fixed(emb, keep_cols=("vec_id", "label"), k=8)


@register(
    "dq_events_expectations",
    r"""
    WITH m AS (
        SELECT CAST(SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_eid,
               CAST(COUNT(event_id) - COUNT(DISTINCT event_id) AS BIGINT) AS uq_eid,
               CAST(SUM(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_ts,
               CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_uid,
               CAST(SUM(CASE WHEN value IS NULL OR value < 0 OR value > 1000000
                        THEN 1 ELSE 0 END) AS BIGINT) AS rng_val,
               CAST(SUM(CASE WHEN event_type IS NULL OR event_type NOT IN
                        ('click', 'view', 'purchase', 'signup', 'error')
                        THEN 1 ELSE 0 END) AS BIGINT) AS set_type,
               CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM events
    )
    SELECT 'not_null(event_id)' AS "check", nn_eid AS observed, nn_eid = 0 AS passed FROM m
    UNION ALL SELECT 'unique(event_id)', uq_eid, uq_eid = 0 FROM m
    UNION ALL SELECT 'not_null(ts)', nn_ts, nn_ts = 0 FROM m
    UNION ALL SELECT 'not_null(user_id)', nn_uid, nn_uid = 0 FROM m
    UNION ALL SELECT 'in_range(value)', rng_val, rng_val = 0 FROM m
    UNION ALL SELECT 'in_set(event_type)', set_type, set_type = 0 FROM m
    UNION ALL SELECT 'min_rows(1000)', n_rows, n_rows >= 1000 FROM m
    """,
    tags=("dq",),
    doc="Deequ-style data-quality expectation suite compiled to ONE "
    "aggregate pass: every check (not-null, uniqueness, range, "
    "categorical domain, min-rows) is a conditional count inside a "
    "single agg, unpivoted to an O(checks)-row report via stack — no "
    "per-check scans, one partial+final aggregate over the table "
    "regardless of suite size. Integer counts, cross-engine exact; "
    "'observed' is the violation count, so failures are actionable.",
)
def dq_events_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..extensions import dq

    ev = load_table(spark, "events", sf_dir)
    return dq.check_report(
        ev,
        [
            dq.not_null("event_id"),
            dq.unique("event_id"),
            dq.not_null("ts"),
            dq.not_null("user_id"),
            dq.in_range("value", 0.0, 1000000.0),
            dq.in_set(
                "event_type", ("click", "view", "purchase", "signup", "error")
            ),
            dq.min_rows(1000),
        ],
    )


@register(
    "scd2_user_type_intervals",
    r"""
    SELECT user_id, event_type, event_id, value AS attr_value,
           ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id, event_type
                          ORDER BY ts, event_id) AS valid_to,
           lead(ts) OVER (PARTITION BY user_id, event_type
                          ORDER BY ts, event_id) IS NULL AS is_current
    FROM events
    """,
    tags=("events", "cdc"),
    doc="SCD2 interval materialization: each record's validity window "
    "[valid_from, valid_to) closes at the next record for the same "
    "(user, type) key, open-ended (is_current) on the latest — the "
    "standard changelog -> slowly-changing-dimension build every "
    "warehouse runs. One hash shuffle on the key, one sorted lead() "
    "window with an explicit (ts, event_id) total order; pairs with "
    "o11_latest_per_key (which keeps only the is_current rows).",
)
def scd2_user_type_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    w = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return ev.select(
        "user_id",
        "event_type",
        "event_id",
        F.col("value").alias("attr_value"),
        F.col("ts").alias("valid_from"),
        nxt.alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


@register(
    "trending_topk_events",
    r"""
    WITH e AS (
        SELECT event_type AS key,
               make_timestamp(((epoch_us(ts) // 3600000000) - i) * 3600000000)
                   AS window_start
        FROM events, generate_series(0, 1) t(i)
    ), c AS (
        SELECT window_start, key, CAST(COUNT(*) AS BIGINT) AS n
        FROM e GROUP BY 1, 2
    ), r AS (
        SELECT window_start, key, n,
               ROW_NUMBER() OVER (PARTITION BY window_start
                                  ORDER BY n DESC, key) AS rank
        FROM c
    )
    SELECT window_start,
           window_start + INTERVAL '120 minutes' AS window_end,
           key, n, CAST(rank AS BIGINT) AS rank
    FROM r WHERE rank <= 3
    """,
    tags=("events", "streaming-parity"),
    doc="Sliding-window trending top-3 (120-min windows, 60-min "
    "slide): each event lands in exactly width/slide = 2 windows; "
    "counts aggregate with map-side combine and the rank is a "
    "per-window row_number over the O(keys)-per-window AGGREGATE, "
    "never the stream. On a live stream the same rank_topk function "
    "runs inside foreachBatch over the watermark-closed windows of "
    "streaming.stateful.windowed_key_counts, so stream and batch "
    "cannot diverge (pytest pins them equal on a file-driven stream).",
)
def trending_topk_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.stateful import rank_topk, windowed_key_counts

    ev = load_table(spark, "events", sf_dir)
    return rank_topk(
        windowed_key_counts(ev, window="120 minutes", slide="60 minutes"), k=3
    )


@register(
    "corpus_zipf_topk",
    r"""
    WITH w AS (
        SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
        FROM documents
    ), c AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS n FROM w GROUP BY token
    ), tot AS (
        SELECT CAST(SUM(n) AS BIGINT) AS total FROM c
    ), top AS (
        SELECT token, n FROM c ORDER BY n DESC, token LIMIT 100
    )
    SELECT token, n,
           CAST(ROW_NUMBER() OVER (ORDER BY n DESC, token) AS BIGINT) AS rank,
           CAST(n * ROW_NUMBER() OVER (ORDER BY n DESC, token) AS BIGINT)
               AS rank_times_freq,
           CAST(SUM(n) OVER (ORDER BY n DESC, token
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) / CAST(total AS DOUBLE) AS cum_share
    FROM top CROSS JOIN tot
    """,
    tags=("textstats", "tiny-bnlj", "tiny-global-window"),
    doc="Zipf head of the corpus vocabulary: top-100 tokens with rank, "
    "rank*frequency (Zipf's law predicts ~constant), and exact "
    "cumulative corpus share. The global window is sanctioned: its "
    "input is the TakeOrdered top-100 of the vocabulary AGGREGATE "
    "(100 rows), never the corpus; the share denominator is a one-row "
    "broadcast. One token-count shuffle with map-side combine + "
    "TakeOrderedAndProject — the standard vocabulary health check "
    "before tokenizer/LM work.",
)
def corpus_zipf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select(
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("token")
    )
    c = toks.groupBy("token").agg(F.count("*").alias("n"))
    tot = c.agg(F.sum("n").cast("long").alias("total"))
    top = c.orderBy(F.desc("n"), "token").limit(100)
    w = W.orderBy(F.desc("n"), "token")
    return (
        top.crossJoin(F.broadcast(tot))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .withColumn("rank_times_freq", (F.col("n") * F.col("rank")).cast("long"))
        .withColumn(
            "cum_share",
            F.sum("n")
            .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
            .cast("double")
            / F.col("total").cast("double"),
        )
        .select(
            "token", F.col("n").cast("long").alias("n"), "rank",
            "rank_times_freq", "cum_share",
        )
    )


@register(
    "w6_nth_value_cume_dist",
    r"""
    SELECT event_id, user_id, value,
           nth_value(value, 2) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND UNBOUNDED FOLLOWING) AS second_value,
           cume_dist() OVER (PARTITION BY user_id ORDER BY value) AS value_cume
    FROM events
    """,
    tags=("window",),
    doc="nth_value + cume_dist completion of the window-function "
    "surface: per user, the second event's value over the full-"
    "partition frame (explicit (ts, event_id) total order) and each "
    "value's cumulative distribution within the user (tie-safe: "
    "cume_dist counts rows <= current by the ORDER BY key, identical "
    "across engines regardless of tie order). One hash shuffle on "
    "user_id shared by both windows.",
)
def w6_nth_value_cume_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    wf = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    wc = W.partitionBy("user_id").orderBy("value")
    return ev.select(
        "event_id",
        "user_id",
        "value",
        F.nth_value("value", 2).over(wf).alias("second_value"),
        F.cume_dist().over(wc).alias("value_cume"),
    )


@register(
    "session_concurrency_daily",
    r"""
    WITH marked AS (
        SELECT user_id, ts, event_id,
               CASE WHEN ts - LAG(ts) OVER w > INTERVAL 30 MINUTE OR
                         LAG(ts) OVER w IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS session_id
        FROM marked
    ), s AS (
        SELECT user_id, session_id, MIN(ts) AS session_start, MAX(ts) AS session_end
        FROM sess GROUP BY user_id, session_id
    ), frag AS (
        SELECT unnest(generate_series(CAST(session_start AS DATE),
                                      CAST(session_end AS DATE),
                                      INTERVAL 1 DAY)) AS day_ts,
               session_start, session_end
        FROM s
    ), bounds AS (
        SELECT CAST(day_ts AS DATE) AS day,
               greatest(session_start,
                        CAST(CAST(day_ts AS DATE) AS TIMESTAMP)) AS fs,
               least(session_end,
                     CAST(CAST(day_ts AS DATE) + INTERVAL 1 DAY AS TIMESTAMP)
                         - INTERVAL 1 MICROSECOND) AS fe
        FROM frag
    ), deltas AS (
        SELECT day, fs AS ts, 1 AS kind, 1 AS delta FROM bounds
        UNION ALL
        SELECT day, fe AS ts, 0 AS kind, -1 AS delta FROM bounds
    ), run AS (
        SELECT day, SUM(delta) OVER (PARTITION BY day ORDER BY ts, kind DESC
                                     ROWS UNBOUNDED PRECEDING) AS conc
        FROM deltas
    )
    SELECT day, CAST(MAX(conc) AS BIGINT) AS peak_concurrency
    FROM run GROUP BY day
    """,
    tags=("events", "sessionization"),
    doc="Peak concurrent sessions per day, by sweep-line: sessionize "
    "(30-min gap), split sessions at midnight so every interval "
    "fragment lives inside one day, emit +1/-1 deltas at fragment "
    "bounds, running-sum them per day (starts before ends on ties: a "
    "session ending the instant another starts overlaps it), take the "
    "daily max. The capacity-planning primitive. Scale shape: the "
    "sweep window is partitioned BY DAY over O(sessions-active-that-"
    "day) delta rows — never a global sort — and sessionization "
    "itself is the one shuffle on user_id.",
)
def session_concurrency_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag("ts").over(w).cast("long")
    marked = ev.withColumn(
        "new_session",
        F.when(F.lag("ts").over(w).isNull() | (gap > 30 * 60), 1).otherwise(0),
    )
    sess = marked.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(W.unboundedPreceding, 0)),
    )
    s = sess.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"), F.max("ts").alias("session_end")
    )
    frag = s.select(
        F.explode(
            F.sequence(F.to_date("session_start"), F.to_date("session_end"))
        ).alias("day"),
        "session_start",
        "session_end",
    )
    day_ts = F.col("day").cast("timestamp")
    next_day_ts = F.date_add("day", 1).cast("timestamp")
    bounds = frag.select(
        "day",
        F.greatest(F.col("session_start"), day_ts).alias("fs"),
        F.least(
            F.col("session_end"),
            F.timestamp_micros(F.unix_micros(next_day_ts) - 1),
        ).alias("fe"),
    )
    deltas = bounds.select(
        "day", F.col("fs").alias("ts"), F.lit(1).alias("kind"), F.lit(1).alias("delta")
    ).unionAll(
        bounds.select(
            "day", F.col("fe").alias("ts"), F.lit(0).alias("kind"),
            F.lit(-1).alias("delta"),
        )
    )
    sweep = W.partitionBy("day").orderBy(F.col("ts"), F.desc("kind")).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    run = deltas.withColumn("conc", F.sum("delta").over(sweep))
    return run.groupBy("day").agg(
        F.max("conc").cast("long").alias("peak_concurrency")
    )


@register(
    "dedup_cross_source_matrix",
    r"""
    WITH fp AS (
        SELECT DISTINCT
               md5(substring(lower(regexp_replace(trim(text), '\s+', ' ', 'g')),
                             1, 60)) AS f,
               source
        FROM documents
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared_fingerprints
    FROM fp a JOIN fp b ON a.f = b.f AND a.source < b.source
    GROUP BY 1, 2
    """,
    tags=("dedup", "audit"),
    doc="Cross-source duplicate-leakage matrix: for every source pair, "
    "how many 60-char normalized-prefix fingerprints (the boilerplate-"
    "leakage variant of dedup_exact's hash; full-text dups almost "
    "never cross sources, shared templates do) appear in BOTH — the "
    "provenance-contamination "
    "report that tells you which crawls/feeds mirror each other "
    "before you weight them independently in a training mix. Shape: "
    "per-source-distinct fingerprints (one hash shuffle), then an "
    "equi-join on fingerprint whose per-key fan-out is bounded by "
    "the SOURCE count (distinct-per-source first), never by copy "
    "count — a hot duplicate with 1M copies joins as <= n_sources "
    "rows.",
)
def dedup_cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    fp = docs.select(
        F.md5(
            F.substring(
                F.lower(F.regexp_replace(F.trim("text"), r"\s+", " ")), 1, 60
            )
        ).alias("f"),
        "source",
    ).distinct()
    a = fp.select(F.col("f"), F.col("source").alias("source_a"))
    b = fp.select(F.col("f"), F.col("source").alias("source_b"))
    return (
        a.join(b, "f")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").cast("long").alias("n_shared_fingerprints"))
    )


@register(
    "drift_value_histogram",
    r"""
    WITH b AS (
        SELECT event_type,
               CAST(floor(value / 50) AS BIGINT) AS bucket,
               CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
                    THEN 0 ELSE 1 END AS half
        FROM events
    ), c AS (
        SELECT event_type, bucket,
               CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
               CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
        FROM b GROUP BY 1, 2
    ), t AS (
        SELECT event_type,
               CAST(SUM(n_a) AS BIGINT) AS tot_a,
               CAST(SUM(n_b) AS BIGINT) AS tot_b
        FROM c GROUP BY 1
    )
    SELECT c.event_type, c.bucket, c.n_a, c.n_b,
           CAST(c.n_a AS DOUBLE) / CAST(t.tot_a AS DOUBLE) AS share_a,
           CAST(c.n_b AS DOUBLE) / CAST(t.tot_b AS DOUBLE) AS share_b,
           abs(CAST(c.n_a AS DOUBLE) / CAST(t.tot_a AS DOUBLE)
               - CAST(c.n_b AS DOUBLE) / CAST(t.tot_b AS DOUBLE)) AS share_drift
    FROM c JOIN t USING (event_type)
    """,
    tags=("analytics", "dq"),
    doc="Distribution-drift report (the PSI-style monitor without the "
    "cross-engine-unstable log): per event_type, the value histogram "
    "of the month's first half vs second half as exact count ratios "
    "plus absolute share drift per bucket — the input-data-shift "
    "alarm every production scoring pipeline runs. One scan, one "
    "(type, bucket) hash agg, O(types) marginals joined back; all "
    "arithmetic is exact-int ratios so the report is bit-stable.",
)
def drift_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    b = ev.select(
        "event_type",
        F.floor(F.col("value") / 50).cast("long").alias("bucket"),
        F.when(F.to_date("ts") < F.lit("2024-01-16").cast("date"), 0)
        .otherwise(1)
        .alias("half"),
    )
    c = b.groupBy("event_type", "bucket").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).cast("long").alias("n_b"),
    )
    t = c.groupBy("event_type").agg(
        F.sum("n_a").cast("long").alias("tot_a"),
        F.sum("n_b").cast("long").alias("tot_b"),
    )
    sa = F.col("n_a").cast("double") / F.col("tot_a").cast("double")
    sb = F.col("n_b").cast("double") / F.col("tot_b").cast("double")
    return c.join(t, "event_type").select(
        "event_type", "bucket", "n_a", "n_b",
        sa.alias("share_a"), sb.alias("share_b"),
        F.abs(sa - sb).alias("share_drift"),
    )


@register(
    "dt1_datetime_functions",
    r"""
    SELECT o_orderkey, o_orderdate,
           CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS y,
           CAST(EXTRACT(month FROM o_orderdate) AS BIGINT) AS m,
           CAST(EXTRACT(day FROM o_orderdate) AS BIGINT) AS d,
           CAST(EXTRACT(quarter FROM o_orderdate) AS BIGINT) AS q,
           CAST(isodow(o_orderdate) AS BIGINT) AS iso_dow,
           CAST(EXTRACT(doy FROM o_orderdate) AS BIGINT) AS doy,
           last_day(o_orderdate) AS month_end,
           CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS plus_3m,
           CAST(datediff('day', DATE '1995-01-01', o_orderdate) AS BIGINT)
               AS days_since_95
    FROM orders
    """,
    tags=("scalar",),
    doc="Temporal scalar-function batch (the datetime analog of "
    "math1/str1): year/month/day/quarter extracts, ISO day-of-week "
    "(both engines number Monday=1..Sunday=7 — Spark's default "
    "dayofweek starts Sunday and diverges), day-of-year, last_day, "
    "calendar-clamped +3 months (both engines clamp Jan 31 + 1m to "
    "Feb 28), and integer day diffs. Pure scan-stage projection, "
    "whole-stage codegen, no shuffle.",
)
def dt1_datetime_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        "o_orderdate",
        F.year(d).cast("long").alias("y"),
        F.month(d).cast("long").alias("m"),
        F.dayofmonth(d).cast("long").alias("d"),
        F.quarter(d).cast("long").alias("q"),
        (F.weekday(d) + 1).cast("long").alias("iso_dow"),
        F.dayofyear(d).cast("long").alias("doy"),
        F.last_day(d).alias("month_end"),
        F.add_months(d, 3).alias("plus_3m"),
        F.datediff(d, F.lit("1995-01-01").cast("date")).cast("long").alias(
            "days_since_95"
        ),
    )


@register(
    "dedup_clusters_lsh",
    dedup.minhash_clusters_seeded_oracle_sql(threshold=0.8),
    tags=("dedup", "approx", "iterative"),
    doc="Connected components over MinHash-LSH candidate pairs — the "
    "100 TB clustering path: the exact prefix join's candidate set "
    "grows ~n^2/corpus-shard on shingle-dense corpora (measured: "
    "single-box disk exhaustion at 10x, SCALING.md wave-4) while LSH "
    "candidates stay linear via banded bucketing with max_bucket "
    "caps. Same duplicate_clusters CC kernel as dedup_clusters, so "
    "the exact variant doubles as this one's recall oracle in "
    "pytest. At scale this is the full dedup story: LSH pairs -> "
    "CC -> keeper per cluster. Oracle-backed since r8 via the seeded "
    "md5+LCG pair family feeding the recursive-CTE closure.",
)
def dedup_clusters_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dedup.minhash_lsh_pairs(
        load_table(spark, "documents", sf_dir), threshold=0.8, seeded=True
    )
    return dedup.duplicate_clusters(pairs)


@register(
    "embedding_outlier_topk",
    r"""
    WITH qv AS (
        SELECT vec_id, label,
               unnest([i for i in generate_series(0, len(embedding) - 1)]) AS dim,
               unnest([CAST(round(CAST(x AS DOUBLE) * 4096) AS BIGINT)
                       for x in embedding]) AS q
        FROM embeddings
    ), s AS (
        SELECT label, dim, CAST(SUM(q) AS BIGINT) AS sq,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM qv GROUP BY 1, 2
    ), d AS (
        SELECT qv.vec_id, qv.label,
               CAST(SUM((qv.q * s.cnt - s.sq) * (qv.q * s.cnt - s.sq))
                    AS BIGINT) AS d2,
               MAX(s.cnt) AS cnt
        FROM qv JOIN s ON qv.label = s.label AND qv.dim = s.dim
        GROUP BY 1, 2
    ), r AS (
        SELECT vec_id, label, d2, cnt,
               ROW_NUMBER() OVER (PARTITION BY label
                                  ORDER BY d2 DESC, vec_id) AS rank
        FROM d
    )
    SELECT CAST(label AS BIGINT) AS label, vec_id, CAST(d2 AS BIGINT) AS d2,
           sqrt(CAST(d2 AS DOUBLE)) / (4096.0 * CAST(cnt AS DOUBLE))
               AS dist_to_centroid,
           CAST(rank AS BIGINT) AS rank
    FROM r WHERE rank <= 5
    """,
    tags=("embeddings",),
    doc="Per-label embedding outliers: the 5 vectors furthest from "
    "their own label's centroid — the mislabeled-example / junk-"
    "cluster sweep run before using labels as training signal. "
    "Distance stays in EXACT integer arithmetic on the 2^-12 grid "
    "(d2 = sum over dims of (q*count - sum_q)^2, bounded 2^58), so "
    "the ranking has no float ties and the only float ops are the "
    "final correctly-rounded sqrt/divide. Shape: posexplode + one "
    "(label, dim) agg, join-back keyed the same way (co-partitioned), "
    "per-vector re-aggregate, top-k window over labels.",
)
def embedding_outlier_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    qv = emb.select(
        "vec_id",
        F.col("label").cast("long").alias("label"),
        F.posexplode(
            F.transform(
                F.col("embedding").cast("array<double>"),
                lambda x: F.round(x * F.lit(4096.0)).cast("long"),
            )
        ).alias("dim", "q"),
    )
    s = qv.groupBy("label", "dim").agg(
        F.sum("q").alias("sq"), F.count("*").alias("cnt")
    )
    diff = F.col("q") * F.col("cnt") - F.col("sq")
    d = (
        qv.join(s, ["label", "dim"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum(diff * diff).cast("long").alias("d2"),
            F.max("cnt").alias("cnt"),
        )
    )
    rn = F.row_number().over(
        W.partitionBy("label").orderBy(F.desc("d2"), "vec_id")
    )
    return (
        d.withColumn("rank", rn.cast("long"))
        .filter(F.col("rank") <= 5)
        .select(
            "label",
            "vec_id",
            "d2",
            (
                F.sqrt(F.col("d2").cast("double"))
                / (F.lit(4096.0) * F.col("cnt").cast("double"))
            ).alias("dist_to_centroid"),
            "rank",
        )
    )


@register(
    "multimodal_audio_features",
    """
    WITH hex AS (
        SELECT d.doc_id,
               string_agg(md5(d.text || '#' || t.i), '' ORDER BY t.i) AS h
        FROM documents d CROSS JOIN (SELECT unnest(range(100)) AS i) t
        GROUP BY d.doc_id
    ), samples AS (
        SELECT hex.doc_id, s.j,
               CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END AS v
        FROM hex
        CROSS JOIN (SELECT unnest(range(800)) AS j) s
        CROSS JOIN LATERAL (
            SELECT CAST(concat('0x', substr(h, CAST(4 * j + 1 AS INTEGER), 2))
                        AS INTEGER)
                 + 256 * CAST(concat('0x', substr(h, CAST(4 * j + 3 AS INTEGER), 2))
                              AS INTEGER) AS raw
        ) b
    ), flags AS (
        SELECT doc_id, j, v,
               CASE WHEN lag(v < 0) OVER w IS NOT NULL
                         AND (v < 0) <> lag(v < 0) OVER w
                    THEN 1 ELSE 0 END AS zc
        FROM samples WINDOW w AS (PARTITION BY doc_id ORDER BY j)
    ), per_doc AS (
        SELECT doc_id,
               SUM(CAST(v AS BIGINT) * v) AS s2,
               SUM(zc) AS z
        FROM flags GROUP BY doc_id
    ), per_frame AS (
        SELECT doc_id, j // 400 AS frame_idx,
               SUM(CAST(v AS BIGINT) * v) AS f2
        FROM samples GROUP BY doc_id, j // 400
    )
    SELECT p.doc_id,
           CAST(8000 AS BIGINT) AS sample_rate,
           CAST(800 AS BIGINT) AS n_samples,
           CAST(800 AS DOUBLE) / 8000.0 AS duration_s,
           sqrt((CAST(p.s2 AS DOUBLE) / 1073741824.0) / 800.0) AS rms,
           CAST(p.z AS DOUBLE) / 799.0 AS zero_cross_rate,
           CAST(f.frame_idx AS INTEGER) AS frame_idx,
           sqrt((CAST(f.f2 AS DOUBLE) / 1073741824.0) / 400.0) AS frame_rms
    FROM per_doc p JOIN per_frame f USING (doc_id)
    """,  # oracle (r9): the PCM payload is md5-derived, so DuckDB
    # re-derives every int16 sample from the hex digests (little-endian
    # pair + sign fold) and replays the numpy features EXACTLY: all
    # sums are integer (v^2 < 2^30, 800 terms -> any summation order is
    # fp-exact after the /2^30 dyadic scaling), and each feature ends
    # in one IEEE division (+ sqrt) on identical operands.
    tags=("multimodal",),
    doc="End-to-end audio feature pipeline on deterministic synthetic "
    "WAV clips: a PCM16 payload is built JVM-side (md5-derived bytes "
    "behind a constant RIFF header — binary concat in codegen, no "
    "Python), then the native WAV decoder + RMS/zero-crossing/frame-"
    "envelope extraction runs in one Arrow mapInPandas stage — the "
    "silence-trim/clipping/energy-bucket slice of a speech-data "
    "pipeline. Blobs never leave the scan stage; output is O(frames) "
    "doubles per clip; no shuffle (the declared posexplode of the "
    "2-frame envelope keeps the driver hash scalar-only).",
)
def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..extensions.multimodal import audio_features, encode_wav
    import numpy as np

    docs = load_table(spark, "documents", sf_dir)
    # constant 44-byte header for a 1600-byte PCM16 mono 8 kHz payload
    # (100 md5 digests x 16 bytes = 800 samples)
    header = encode_wav(np.zeros(800, dtype=np.int16), 8000)[:44]
    pcm = F.unhex(
        F.concat_ws(
            "",
            F.array(
                *[F.md5(F.concat(F.col("text"), F.lit(f"#{i}"))) for i in range(100)]
            ),
        )
    )
    media = docs.select(
        "doc_id", F.concat(F.lit(bytearray(header)), pcm).alias("media")
    )
    feats = audio_features(media)
    return feats.select(
        "doc_id", "sample_rate", "n_samples", "duration_s", "rms",
        "zero_cross_rate",
        F.posexplode("frame_rms").alias("frame_idx", "frame_rms"),
    )
