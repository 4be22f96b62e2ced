"""Learned quality filtering — the fastText-classifier stand-in of
production curation pipelines (the CCNet / GPT-3 "quality filter"
stage): weak labels from the Gopher rule gate train a linear scorer
over cheap per-doc features, then the whole corpus is scored.

Why a LEARNED stage when `text_quality_score` / `text_gopher_flags`
exist: hand rules give a hard gate; the model turns the same signals
into a graded score, which is what temperature sampling and threshold
sweeps actually consume.  The features deliberately mirror the
heuristic gate (length, token stats, alpha/punct ratios, bigram
repetition) so the model's marginal value is the learned WEIGHTING —
the role the fastText filter plays over hand rules in public
pipelines.

Scale shape:

* Feature extraction is scan-stage Catalyst (reuses the textstats
  column expressions) — no shuffle, no Python.
* Training is a fixed-point batch perceptron (:func:`fixed_point_quality`):
  one global aggregate to a single 7-int row per epoch.
* Scoring is one projection: features dotted with a handful of
  literal integer weights per row, fully JVM-side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

FEATURE_COLS = [
    "n_chars_f",
    "n_tokens_f",
    "mean_token_len",
    "alpha_ratio",
    "punct_ratio",
    "dup_bigram_frac",
]


def quality_feature_cols(text: Column) -> dict[str, Column]:
    """Per-doc numeric features as scan-stage expressions.  All ratios
    are guarded for empty/1-word docs (ANSI mode throws on 0/0)."""
    from .textstats import word_bigrams

    n_chars = F.length(text)
    toks = F.split(F.lower(F.trim(text)), r"\s+")
    n_tokens = F.size(F.filter(toks, lambda w: w != ""))
    n_alpha = F.length(F.regexp_replace(text, r"[^A-Za-z]", ""))
    n_punct = F.length(F.regexp_replace(text, r"[^.,;:!?]", ""))
    bg = word_bigrams(text)
    return {
        "n_chars_f": n_chars.cast("double"),
        "n_tokens_f": n_tokens.cast("double"),
        "mean_token_len": F.when(
            n_tokens > 0, n_chars.cast("double") / n_tokens.cast("double")
        ).otherwise(F.lit(0.0)),
        "alpha_ratio": F.when(
            n_chars > 0, n_alpha.cast("double") / n_chars.cast("double")
        ).otherwise(F.lit(0.0)),
        "punct_ratio": F.when(
            n_chars > 0, n_punct.cast("double") / n_chars.cast("double")
        ).otherwise(F.lit(0.0)),
        "dup_bigram_frac": F.when(
            F.size(bg) > 0,
            F.lit(1.0)
            - F.size(F.array_distinct(bg)).cast("double")
            / F.size(bg).cast("double"),
        ).otherwise(F.lit(0.0)),
    }


_FQ_GRID = 4096  # feature quantization grid (2^-12, the PCA-oracle grid)
_FQ_EPOCHS = 8


def fixed_quality_oracle_sql(epochs: int = _FQ_EPOCHS) -> str:
    r"""DuckDB oracle for :func:`fixed_point_quality`: the same
    feature doubles (each one correctly-rounded division of exact
    integers), the same floor-quantize / min-max scale, the same
    Gopher weak labels, and the batch-perceptron rounds unrolled as
    one (margins, updates, weights) CTE triple per epoch."""
    g = _FQ_GRID
    quant = ", ".join(
        [
            f"{{'j': {j}, 'x': CAST(floor(f{j} * {float(g)!r}) AS BIGINT)}}"
            for j in range(6)
        ]
        + [f"{{'j': 6, 'x': CAST({g} AS BIGINT)}}"]
    )
    parts = [rf"""
    WITH t AS MATERIALIZED (
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS n_chars,
               string_split_regex(lower(trim(text)), '\s+') AS ws,
               CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                    AS BIGINT) AS n_alpha,
               CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
                    AS BIGINT) AS n_punct,
               CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))
                    AS BIGINT) AS n_sym
        FROM documents
    ),
    f AS MATERIALIZED (
        SELECT doc_id,
               CAST(n_chars AS DOUBLE) AS f0,
               CAST(nt AS DOUBLE) AS f1,
               CASE WHEN nt > 0
                    THEN CAST(n_chars AS DOUBLE) / CAST(nt AS DOUBLE)
                    ELSE 0.0 END AS f2,
               CASE WHEN n_chars > 0
                    THEN CAST(n_alpha AS DOUBLE) / CAST(n_chars AS DOUBLE)
                    ELSE 0.0 END AS f3,
               CASE WHEN n_chars > 0
                    THEN CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE)
                    ELSE 0.0 END AS f4,
               CASE WHEN nb > 0
                    THEN 1.0 - CAST(nbd AS DOUBLE) / CAST(nb AS DOUBLE)
                    ELSE 0.0 END AS f5
        FROM (
            SELECT doc_id, n_chars, n_alpha, n_punct,
                   len(list_filter(ws, w -> w <> '')) AS nt,
                   len(bg) AS nb, len(list_distinct(bg)) AS nbd
            FROM (SELECT *, [ws[i] || ' ' || ws[i + 1]
                             for i in generate_series(1, len(ws) - 1)] AS bg
                  FROM t)
        )
    ),
    fx AS MATERIALIZED (
        SELECT doc_id, s.j, s.x FROM (
            SELECT doc_id, unnest([{quant}]) AS s
            FROM f
        )
    ),
    mnmx AS MATERIALIZED (
        SELECT j, MIN(x) AS mn, MAX(x) AS mx FROM fx GROUP BY j
    ),
    zx AS MATERIALIZED (
        SELECT f.doc_id, f.j,
               CASE WHEN m.mx = m.mn THEN CAST(0 AS BIGINT)
                    ELSE ((f.x - m.mn) * {g}) // (m.mx - m.mn) END AS z
        FROM fx f JOIN mnmx m USING (j)
    ),
    g AS MATERIALIZED (
        SELECT doc_id,
               CASE WHEN (n_words >= 5 AND n_words <= 10000)
                     AND (mean_word_len >= 2.0 AND mean_word_len <= 12.0)
                     AND (symbol_word_ratio <= 0.5)
                     AND (alpha_word_frac >= 0.6)
                    THEN 1 ELSE 0 END AS y
        FROM (
            SELECT doc_id,
                   CAST(len(ws) AS BIGINT) AS n_words,
                   CAST(list_sum(list_transform(ws, w -> length(w)))
                        AS DOUBLE) / CAST(len(ws) AS DOUBLE)
                       AS mean_word_len,
                   CAST(n_sym AS DOUBLE) / CAST(len(ws) AS DOUBLE)
                       AS symbol_word_ratio,
                   CAST(len(list_filter(ws, w -> regexp_matches(w, '[a-z]')))
                        AS DOUBLE) / CAST(len(ws) AS DOUBLE)
                       AS alpha_word_frac
            FROM t
        )
    ),
    w0 AS (SELECT j, CAST(0 AS BIGINT) AS w
           FROM generate_series(0, 6) gs(j))"""]
    for e in range(1, epochs + 1):
        parts.append(f""",
    m{e} AS (
        SELECT z.doc_id, SUM(z.z * w.w) AS m
        FROM zx z JOIN w{e - 1} w USING (j) GROUP BY 1
    ),
    u{e} AS (
        SELECT z.j,
               SUM(CASE WHEN g.y = 1 AND m.m <= 0 THEN z.z
                        WHEN g.y = 0 AND m.m > 0 THEN -z.z
                        ELSE 0 END) AS du
        FROM zx z JOIN m{e} m USING (doc_id) JOIN g USING (doc_id)
        GROUP BY z.j
    ),
    w{e} AS MATERIALIZED (
        SELECT w.j, w.w + coalesce(u.du, 0) AS w
        FROM w{e - 1} w LEFT JOIN u{e} u USING (j)
    )""")
    parts.append(f"""
    SELECT z.doc_id, CAST(g.y AS INTEGER) AS weak_label,
           CAST(SUM(z.z * w.w) AS BIGINT) AS quality_score,
           SUM(z.z * w.w) > 0 AS quality_keep
    FROM zx z JOIN w{epochs} w USING (j) JOIN g USING (doc_id)
    GROUP BY z.doc_id, g.y
    """)
    return "".join(parts)


def fixed_point_quality(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    epochs: int = _FQ_EPOCHS,
) -> DataFrame:
    """Oracle-reproducible learned quality (LBFGS coefficients would
    be neither cross-engine- nor run-bit-stable, this is): weak labels
    from the Gopher gate train a BATCH PERCEPTRON on integer
    fixed-point features, and every doc gets a deterministic margin
    score.

    Construction (every step exact integer arithmetic or one
    correctly-rounded IEEE op, identical in Spark, Python, and SQL):

    1. The 6 quality features (length/token stats, alpha/punct ratios,
       bigram repetition) as doubles — each a single division of exact
       integers — quantized to ``floor(f * 4096)`` BIGINT, plus a
       constant-4096 bias.
    2. Per-feature min-max scale to [0, 4096]: ``z = ((x-mn)*4096) //
       span`` with exact integer MIN/MAX corpus aggregates (span 0 ->
       z 0).
    3. ``epochs`` BATCH perceptron rounds: margins ``m = w.z`` per doc,
       update ``w += sum_{y=1, m<=0} z - sum_{y=0, m>0} z`` — the
       updates are integer SUMS, so they are order-free and one
       unrolled CTE pair per epoch in the oracle.  Driver cost is one
       7-int collect per epoch (the PCA-moments pattern).
    4. Output (id, weak_label, quality_score = final margin BIGINT,
       quality_keep = margin > 0).  The learned weighting of the same
       signals the rule gate thresholds — the fastText-stand-in role —
       with a margin in place of a calibrated probability.

    Overflow (ANSI throws): z <= 2^12 and |w| <= epochs*n*2^12, so
    |margin| = |sum_j z_j w_j| <= n_features*epochs*n*2^24 — at 7
    features x 8 epochs that is 56n*2^24 ~= n*2^29.8, under 2^63 for
    n to ~2^33 rows; the TRAINING set at 100 TB is a corpus-tiny
    sample anyway."""
    from ..sources.catalog import spread_scan
    from .textstats import gopher_flag_cols

    # feature extraction (regex token splits) and the Gopher gate are
    # the per-row hot loops; spread an under-parallelized single-file
    # scan across cores first (guide §2.5; r15)
    docs = spread_scan(docs)

    feats = quality_feature_cols(F.col(text_col))
    xcols = [
        F.floor(feats[name] * F.lit(float(_FQ_GRID))).cast("long").alias(f"x{j}")
        for j, name in enumerate(FEATURE_COLS)
    ] + [F.lit(_FQ_GRID).cast("long").alias(f"x{len(FEATURE_COLS)}")]
    nf = len(FEATURE_COLS) + 1
    # the weak label rides the SAME scan projection as the features
    # (r16, guide §2.4): the r15 shape ran gopher_flags as a second
    # full corpus scan and shuffle-joined it back on id
    ycol = gopher_flag_cols(F.col(text_col))["keep"].cast("int").alias("y")
    fx = docs.select(F.col(id_col), *xcols, ycol).localCheckpoint(eager=False)

    ranges = fx.select(
        *[m for j in range(nf) for m in (
            F.min(f"x{j}").alias(f"mn{j}"), F.max(f"x{j}").alias(f"mx{j}"))]
    ).collect()[0]
    # (x - mn) >= 0, so truncating `div` == floor == DuckDB `//`
    scaled = [
        (
            F.lit(0).cast("long")
            if ranges[f"mx{j}"] == ranges[f"mn{j}"]
            else F.expr(
                f"CAST((x{j} - {int(ranges[f'mn{j}'])}L) * {_FQ_GRID}L div "
                f"{int(ranges[f'mx{j}']) - int(ranges[f'mn{j}'])}L AS BIGINT)"
            )
        ).alias(f"z{j}")
        for j in range(nf)
    ]
    # lazy: epoch 1's aggregate materializes it (consumers are strictly
    # sequential, so no lazy-checkpoint race), saving one separate
    # materialization action per build (r16).
    z = fx.select(F.col(id_col), *scaled, F.col("y")).localCheckpoint(eager=False)

    # Each epoch is one global aggregate folding the checkpointed z to
    # a single 7-int row, planned under the session's own AQE setting.
    w = [0] * nf
    for _ in range(epochs):
        margin = " + ".join(f"z{j} * {w[j]}L" for j in range(nf))
        upd = z.select(
            *[
                F.sum(
                    F.when(
                        (F.col("y") == 1) & (F.expr(margin) <= 0), F.col(f"z{j}")
                    )
                    .when(
                        (F.col("y") == 0) & (F.expr(margin) > 0), -F.col(f"z{j}")
                    )
                    .otherwise(F.lit(0))
                ).alias(f"u{j}")
                for j in range(nf)
            ]
        ).collect()[0]
        w = [w[j] + int(upd[f"u{j}"] or 0) for j in range(nf)]

    margin = " + ".join(f"z{j} * {w[j]}L" for j in range(nf))
    return z.select(
        F.col(id_col),
        F.col("y").cast("int").alias("weak_label"),
        F.expr(margin).cast("long").alias("quality_score"),
        (F.expr(margin) > 0).alias("quality_keep"),
    )
