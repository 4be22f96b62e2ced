"""Similarity search over an embedding column (array<float>).

  cosine_topk   brute-force exact top-k: broadcast the query set against
                the corpus — the corpus is scanned once, never shuffled;
                per-query k is a partitioned window.  The correct
                baseline at any scale where queries are few.
  lsh_topk      random-hyperplane LSH bucketing: corpus hashed once into
                sign-pattern buckets; each query probes its own bucket
                (+ optional multi-probe neighbors).  The 100 TB path:
                candidate set per query is ~corpus/2^planes.

Operating points (r13-r15 measurements; details in SCALING.md and the
per-operator docstrings):

  ================  ======================  ============================
  regime            form                    measured basis
  ================  ======================  ============================
  few queries       cosine_topk             exact; corpus scanned once,
                                            norms hoisted per row (r15)
  cells <= ~1e3     ivf_topk +              literal-seed argmax optimal;
                    SeededQuantizer         full DuckDB oracle
  large cells /     ivf_topk_blocked +      Arrow tiles, 67 MB/task
  cells ~ sqrt(n)   FlatSeedCells           bound; auto hub valve opens
                                            > 64k rows/cell (3.0x on a
                                            genuine hub, no-op at 5.4x
                                            ordinary skew — r14)
  cells >= ~1e4     ivf_topk_blocked +      assignment O(n(S+C/S)d);
                    HierSeedCells           35x over flat at C=1e4/1.6M,
                                            2x LOSS at C=1024 (r14)
  hash-bucketed     lsh_topk                candidates ~ corpus/2^planes
  ================  ======================  ============================

Hyperplanes are deterministic pseudo-random: an LCG over
(plane, dimension) -> uniform in [-1, 1], computed ONCE on the driver
and embedded as literal weight arrays (scan-stage constants — the r5
form re-evaluated xxhash64 per row per (plane, dim): 256 hashes/row
at planes=4 x dim=64).  Results are reproducible with no stored
model, and because the weights are plain decimal literals the whole
bucketing is DuckDB-expressible, which is what lets ann_lsh_topk
carry a full SQL oracle.  All math native (zip_with/aggregate fold in
double).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F


def _as_double(vec_col: str):
    return F.transform(F.col(vec_col), lambda x: x.cast("double"))


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _lit_double_array(values) -> "F.Column":
    """array(<literal doubles>) built with ONE py4j call.

    The element-wise form ``F.array(*[F.lit(x) for x in values])``
    costs a py4j round trip per element; at 16 seeds x 64 dims that is
    ~1000 driver round trips PER cell_scores call — measured 3.5s of
    pure plan-construction time in ann_ivf_pq_topk's quant frame
    (r15).  A single parsed SQL string builds the identical
    CreateArray(Literal double) tree: ``repr(float)`` round-trips
    exactly and Spark's parser applies Java's correctly-rounded
    Double.parseDouble, so every literal is bit-identical to the
    F.lit form (the plane_weights docstring's argument, reused).

    Non-finite values render as 'nanD'/'infD', which the SQL parser
    rejects — fall back to the per-element F.lit form for those (r16
    ADVICE: a latent parse exception is worse than the slow path)."""
    vals = [float(x) for x in values]
    if not all(math.isfinite(x) for x in vals):
        return F.array(*[F.lit(x) for x in vals])
    return F.expr("array(" + ", ".join(f"{x!r}D" for x in vals) + ")")


def _finite_cosine(col):
    """Keep-predicate for cosine columns: non-finite cosines are
    DROPPED from every top-k, the one rule ALL forms in this module
    share.  Zero-norm vectors never reach the division in the
    expression tails (explicit denominator != 0 filters — Spark 4's
    ANSI mode makes ``/0`` THROW, and ``try_divide`` costs 4x by
    pushing the unrolled whole-stage method past the JVM 64 KB codegen
    limit); in the Arrow kernels they surface as numpy NaN and the
    isfinite keep drops them.  This predicate catches the remaining
    non-finite sources (inf components), so expression and kernel
    forms stay twins even on degenerate inputs — closing the r12
    ADVICE item 3 divergence (F.desc ranks NaN first, stable argsort
    ranked it last).  DuckDB's ``/`` returns NULL on zero divisors;
    the oracle mirrors filter those rows, same rule."""
    return col.isNotNull() & ~F.isnan(col) & (F.abs(col) != F.lit(float("inf")))


def _with_norm(side: DataFrame, vec: str, nrm: str) -> DataFrame:
    """Hoist the per-ROW L2 norm (and the entry finiteness gate) onto
    the slim n-row side of a top-k, so the per-PAIR tail is one dot
    plus a scalar multiply instead of three folds — the
    seeded-IVF hoist (r13) applied module-wide.

    Both the fold and the tail dot stay HOFs, NOT dim-unrolled
    element_at chains: measured r15 at sf0.1 bench scale (2k rows,
    ~32k pairs) the unrolled cosine_topk benched 2.1s vs 0.9s for
    this form (driver-side analysis + codegen churn on dim-sized
    literal trees, with 15-20s GC-poisoned outliers as giant plans
    accumulate in a session), and at 200k rows / 3.2M pairs it was
    ~10x WORSE (13-17s vs 1.4-4s): the giant whole-stage method
    exceeds the JVM's JIT HugeMethodLimit and runs bytecode-
    interpreted, slower than Catalyst's HOF evaluation loop.  At
    kernel scale the Arrow blocked forms take over — the expression
    tail never sees huge per-task pair counts.

    The gate is ``sum-of-squares < inf`` (one predicate term, so the
    alias-substituted pushdown below the Project duplicates the
    per-row chain once, never per pair): a NaN component folds to a
    NaN sum (comparison false -> dropped), an inf component to inf,
    and overflow-magnitude components (|x| >~ 1.3e154, whose squares
    overflow — the r14 ADVICE item-1 hole: they previously passed the
    per-component forall and ranked FIRST as inf/NaN cosines) ALSO
    fold to inf.  Surviving rows have finite norms, and every cosine
    between two survivors is finite: any partial sum of q_i*c_i is
    bounded by sum|q_i||c_i| <= sqrt(sq_q)*sqrt(sq_c) <= max(sq_q,
    sq_c) < inf (Cauchy-Schwarz), modulo a half-ulp at the very top of
    the double range — magnitudes within ~1 ulp of DBL_MAX are out of
    contract.  Zero-norm rows still flow through (they must keep
    participating in coarse-quantizer fits/assignments) and are
    dropped per-pair in ``_score_and_rank``.  The fold is the same
    IEEE sequence as DuckDB's ``list_dot_product(v, v)``, so the
    oracle mirror is ``WHERE isfinite(list_dot_product(v, v))``."""
    sq = F.aggregate(
        F.transform(F.col(vec), lambda x: x * x),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        side.withColumn("__sq", sq)
        .filter(F.col("__sq") < F.lit(float("inf")))
        .withColumn(nrm, F.sqrt(F.col("__sq")))
        .drop("__sq")
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    Output: (query_id, neighbor_id, cosine, rank). Self-matches are
    excluded. Ties broken by neighbor id for determinism.

    Per-row norms are hoisted above the crossJoin (one fold per ROW
    instead of two per PAIR — r15, old-vs-new interleaved A/B at
    sf0.1: 0.9s vs 1.0-1.1s medians, and at large pair counts the
    saved folds scale with n*k).  See ``_with_norm`` for why the tail
    dot stays a HOF fold rather than a dim-unrolled chain."""
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("cv")
    )
    q = _with_norm(q, "qv", "qnrm")
    c = _with_norm(c, "cv", "cnrm")
    return _score_and_rank(c.crossJoin(F.broadcast(q)), k)


def _score_and_rank(candidates: DataFrame, k: int) -> DataFrame:
    """Shared tail of every ANN variant: exact cosine over the
    candidate (query, neighbor) pairs, deterministic per-query top-k.

    Candidates must carry ``qnrm``/``cnrm`` hoisted by ``_with_norm``
    — the per-pair work is ONE dot fold and a scalar multiply (the
    denominator is two precomputed per-row doubles, not two re-folded
    norms).  The dot is a HOF fold, NOT a dim-unrolled chain — see
    ``_with_norm`` for the r15 measurements (unrolled was 2x worse at
    bench scale and ~10x worse at 3.2M pairs)."""
    # Zero norms are filtered BEFORE the division: ANSI mode makes /0
    # throw, and the obvious fix (try_divide) blew the whole-stage
    # method past the JVM's 64 KB limit on the unrolled chains —
    # measured 4x slower interpreted fallback (ann_ivf_topk 2.1s ->
    # 8.0s) — so the denominator is guarded by a plain comparison on
    # materialized (hoisted path: per-row precomputed) columns.  Same
    # observable rule either way: a zero-norm vector appears in no
    # top-k (_finite_cosine docstring).
    cos = _dot(F.col("qv"), F.col("cv")) / (F.col("qnrm") * F.col("cnrm"))
    scored = candidates.filter(
        (F.col("neighbor_id") != F.col("query_id"))
        & (F.col("qnrm") != F.lit(0.0))
        & (F.col("cnrm") != F.lit(0.0))
    ).select("query_id", "neighbor_id", cos.alias("cosine"))
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


_LCG_A, _LCG_C, _LCG_M = 1103515245, 12345, 1 << 31


def _lcg_unit(i: int) -> float:
    """Deterministic uniform in [0, 1): one LCG step keyed by i.
    Plain integer arithmetic -> the same constant in any engine."""
    return ((_LCG_A * (i + 1) + _LCG_C) % _LCG_M) / float(_LCG_M)


def plane_weights(planes: int, dim: int) -> list[list[float]]:
    """Hyperplane weight matrix, w[p][d] = LCG(p*dim+d) scaled to
    [-1, 1].  Driver-computed constants; ``repr(float)`` round-trips
    exactly, so embedding these literals in SQL reproduces the Spark
    doubles bit-for-bit."""
    return [
        [2.0 * _lcg_unit(p * dim + d) - 1.0 for d in range(dim)]
        for p in range(planes)
    ]


def _bucket_signature(v, weights: list[list[float]]):
    """Sign pattern of the vector against the literal hyperplanes,
    packed into a long."""
    sig = F.lit(0).cast("long")
    for p, w in enumerate(weights):
        proj = _dot(v, _lit_double_array(w))
        sig = sig + F.when(proj > 0, F.lit(1 << p).cast("long")).otherwise(F.lit(0).cast("long"))
    return sig


def seeded_centroids(
    corpus: DataFrame,
    n_centroids: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[tuple[int, list[float], float]]:
    """Deterministic coarse-quantizer seeds WITHOUT a trained model:
    the ``n_centroids`` corpus vectors with the smallest
    ``(LCG(vec_id), vec_id)`` key — a seeded uniform sample, the
    random-seed IVF variant (cells are Voronoi regions of sampled
    points; balance is worse than k-means but the quantizer is pure
    integer arithmetic, so ANY engine reproduces it exactly — this is
    what makes ann_ivf_topk oracle-checkable end to end).

    Selection is TakeOrderedAndProject (no global window); returns
    [(cell, vector, norm)] with cell = rank in the sample.  Norms are
    computed with the same left-to-right fold DuckDB's
    list_dot_product uses, so the embedded literals match bitwise.
    """
    import math

    key = ((F.col("sid") % F.lit(_LCG_M)) * F.lit(_LCG_A) + F.lit(_LCG_C)) % F.lit(_LCG_M)
    rows = (
        corpus.select(F.col(id_col).alias("sid"), _as_double(vec_col).alias("sv"))
        .withColumn("__k", key)
        .orderBy("__k", "sid")
        .limit(n_centroids)
        .collect()
    )
    rows = sorted(rows, key=lambda r: (r["__k"], r["sid"]))
    out = []
    for cell, r in enumerate(rows):
        v = [float(x) for x in r.sv]
        acc = 0.0
        for x in v:
            acc += x * x
        out.append((cell, v, math.sqrt(acc)))
    return out


def seeded_cell_scores(seeds):
    """Expression builder over ``seeded_centroids`` output: given a
    vector column (or a SQL expression string), returns the seeds
    ranked by cosine-to-seed as a sorted struct array —
    struct(score, -cell), sort_array desc => score desc then cell asc,
    the same total order the DuckDB mirrors use.  Pure scan-stage
    literals: assignment needs no shuffle.

    Passing the vector as a SQL STRING builds the whole n_seeds-struct
    tree with ONE parsed expression (r16, the ``_lit_double_array``
    argument extended to the full builder): the Column form costs
    ~10 py4j round trips per seed (zip_with/aggregate/struct
    construction) — measured 0.45-0.68s per call at 16 seeds x 64
    dims, paid TWICE per IVF-PQ build (corpus assign + query probe).
    ``repr(float)`` literals and the identical
    aggregate/zip_with/named_struct/sort_array tree keep every score
    bit-identical to the Column form (pytest-pinned twins unchanged).
    The raw SQL template is exposed as ``cell_scores.sql(v_sql)`` for
    callers that inline it into a single ``selectExpr`` projection."""

    finite = all(
        math.isfinite(float(x)) and math.isfinite(float(nrm))
        for _, sv, nrm in seeds
        for x in sv
    )

    def _sql(v_sql: str) -> str:
        entries = []
        for cell, sv, nrm in seeds:
            arr = "array(" + ", ".join(f"{float(x)!r}D" for x in sv) + ")"
            dot = (
                f"aggregate(zip_with({v_sql}, {arr}, (x, y) -> x * y), "
                f"0.0D, (acc, x) -> acc + x)"
            )
            entries.append(
                f"named_struct('s', {dot} / {float(nrm)!r}D, 'nc', {-cell})"
            )
        return "sort_array(array(" + ", ".join(entries) + "), false)"

    def cell_scores(v):
        if isinstance(v, str):
            if not finite:
                v = F.expr(v)  # non-finite seeds: per-element fallback
            else:
                return F.expr(_sql(v))
        entries = [
            F.struct(
                (_dot(v, _lit_double_array(sv)) / F.lit(nrm)).alias("s"),
                F.lit(-cell).alias("nc"),
            )
            for cell, sv, nrm in seeds
        ]
        return F.sort_array(F.array(*entries), asc=False)

    # .sql is only offered when every literal renders ('nanD'/'infD'
    # would fail the SQL parse — r16 ADVICE); callers getattr-guard it
    cell_scores.sql = _sql if finite else None
    return cell_scores


def _empty_topk(spark) -> DataFrame:
    """Schema-stable empty result for the degenerate empty-corpus case
    (``seeded_centroids`` returns no seeds -> nothing to probe)."""
    return spark.createDataFrame(
        [], "query_id long, neighbor_id long, cosine double, rank bigint"
    )


# Coarse quantizers: the part of a cell join that varies.
# ``fit(corpus, vec_col, id_col, base, vec)`` sees the raw corpus and
# the caller's normalized frame ``base`` (vector column ``vec``) and
# returns ``(assign, probe)`` — or None when the corpus has no cells:
#   assign(df, vec, cell)         adds each row's cell id as ``cell``
#   probe(df, key, vec, n_probe)  one row per (``key`` row, scanned
#                                 cell), the cell id as column "cell"


@dataclass(frozen=True)
class KMeansQuantizer:
    """MLlib k-means cells (fixed seed -> deterministic model) fitted
    on ``base``; a query probes its ``n_probe`` nearest centroids by
    L2 (a per-query window over the broadcast centroid table).  At
    100 TB pass ``fit_sample_fraction``: the fit is otherwise itself a
    full-corpus job, and cell quality needs only a representative
    sample.  Balanced cells, but a trained model no other engine
    reproduces, so its consumers carry pytest recall bounds."""

    n_cells: int = 16
    seed: int = 42
    fit_sample_fraction: float | None = None

    def fit(self, corpus, vec_col, id_col, base, vec):
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        def featurize(df: DataFrame, v: str) -> DataFrame:
            return df.withColumn("features", array_to_vector(F.col(v)))

        fit_input = featurize(base, vec)
        if self.fit_sample_fraction is not None:
            fit_input = fit_input.sample(fraction=self.fit_sample_fraction, seed=self.seed)
        model = KMeans(k=self.n_cells, seed=self.seed, maxIter=10).fit(fit_input)
        centroids = [(i, list(map(float, cc))) for i, cc in enumerate(model.clusterCenters())]

        def assign(df: DataFrame, v: str, cell: str) -> DataFrame:
            return model.transform(featurize(df, v)).select(
                *df.columns, F.col("prediction").alias(cell)
            )

        def probe(df: DataFrame, key: str, v: str, n_probe: int) -> DataFrame:
            cdf = df.sparkSession.createDataFrame(centroids, "cell int, centroid array<double>")
            dist2 = F.aggregate(
                F.zip_with(F.col(v), F.col("centroid"), lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            w = W.partitionBy(key).orderBy(dist2.asc(), F.col("cell"))
            return (
                df.crossJoin(F.broadcast(cdf))
                .withColumn("cell_rank", F.row_number().over(w))
                .filter(F.col("cell_rank") <= n_probe)
                .select(*df.columns, "cell")
            )

        return assign, probe


@dataclass(frozen=True)
class SeededQuantizer:
    """Seeded-sample cells (``seeded_centroids`` + ``seeded_cell_scores``),
    sampled from the raw corpus before any entry gate, as the oracles
    do: assignment and probing rank by cosine-to-seed against LITERAL
    seed arrays — a pure scan-stage argmax (sorted struct array), no
    window, no shuffle, no fit job.  Less balanced than k-means, but
    every value is integer+double arithmetic DuckDB reproduces
    bit-for-bit, so its consumers carry full oracles
    (``_seeded_cells_cte``)."""

    n_cells: int = 16

    def fit(self, corpus, vec_col, id_col, base, vec):
        seeds = seeded_centroids(corpus, self.n_cells, vec_col, id_col)
        if not seeds:
            return None
        cell_scores = seeded_cell_scores(seeds)

        def assign(df: DataFrame, v: str, cell: str) -> DataFrame:
            return df.withColumn(cell, -F.element_at(cell_scores(v), 1)["nc"])

        def probe(df: DataFrame, key: str, v: str, n_probe: int) -> DataFrame:
            top = F.slice(cell_scores(v), 1, n_probe)
            return df.select(
                *df.columns, F.explode(F.transform(top, lambda s: -s["nc"])).alias("cell")
            )

        return assign, probe


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    quantizer: KMeansQuantizer | SeededQuantizer,
    k: int = 10,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: the ``quantizer`` cells
    the corpus; each query scans only its ``n_probe`` cells, so at
    scale (corpus written partitioned by cell) a query touches
    n_probe/n_cells of the data — the classic recall-vs-cells trade.
    The only shuffle is the cell equi-join, probe side broadcast.
    ``SeededQuantizer`` is the oracle-checkable declared form
    (ann_ivf_topk).  An empty seeded corpus returns the empty top-k.

    Per-ROW norms are hoisted above the join by ``_with_norm``, whose
    finiteness gate runs before a k-means fit (the seeded sample reads
    the raw corpus); zero-norm rows keep their cells and are dropped
    per-pair in ``_score_and_rank``."""
    c = _with_norm(
        corpus.select(F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("cv")),
        "cv",
        "cnrm",
    )
    cells = quantizer.fit(corpus, vec_col, id_col, c, "cv")
    if cells is None:
        return _empty_topk(corpus.sparkSession)
    assign, probe = cells
    q = _with_norm(
        queries.select(F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qv")),
        "qv",
        "qnrm",
    )
    probes = probe(q, "query_id", "qv", n_probe)
    return _score_and_rank(assign(c, "cv", "cell").join(F.broadcast(probes), "cell"), k)


# The k-ordered fold every Arrow kernel here (and in dedup) sums with:
# ((0 + x0*y0) + x1*y1) + ..., one dimension at a time — the exact IEEE
# op sequence of the F.aggregate fold and of DuckDB's list_dot_product,
# so kernel cosines are bitwise-equal to the expression forms and the
# oracles.  Keep the explicit loop: a BLAS matmul sums in another order.


def _stack_rows(col):
    """(n, d) float64 matrix from a pandas column of vectors."""
    import numpy as np

    return np.stack(col.to_numpy()).astype(np.float64, copy=False)


def _seq_norm(m):
    """Per-row L2 norms of ``m`` by the k-ordered fold."""
    import numpy as np

    acc = np.zeros(m.shape[0])
    for j in range(m.shape[1]):
        acc += m[:, j] * m[:, j]
    return np.sqrt(acc)


def _seq_dots(a, b):
    """(len(a), len(b)) matrix of row dot products by the k-ordered fold."""
    import numpy as np

    acc = np.zeros((a.shape[0], b.shape[0]))
    for j in range(a.shape[1]):
        acc += np.outer(a[:, j], b[:, j])
    return acc


# Literal per-task memory bound for the blocked IVF scorer: one active
# score block is at most _Q_BLOCK x _C_BLOCK doubles — 67 MB (64 MiB),
# the figure SCALING.md/COVERAGE.md quote — no matter
# how large a cell grows — the _cap_buckets lesson applied to IVF.  The
# per-(query, corpus) cosine is an independent dim-ordered sum, so
# tiling the matrix changes NOTHING bitwise (see _score_cell).
_Q_BLOCK = 1024
_C_BLOCK = 8192

# Default auto-valve trigger (hot_cell_rows — ON by default since r15;
# pass None to opt out): a cell is "hot" above 8 corpus tiles (64k rows).  Below that the
# per-cell task is bounded by a handful of tile passes and the r13 A/B
# showed splitting is a net LOSS at normal occupancy (scheduler +
# probe-duplication overhead), so the valve stays closed for ordinary
# skew (measured seeded-cell skew 5.4x) and opens only for genuine
# hub cells.  SCALING.md r14 records the measured trigger behavior.
HOT_CELL_ROWS_DEFAULT = 8 * _C_BLOCK


def _seed_arrays(corpus: DataFrame, n_cells: int, vec_col: str, id_col: str):
    """``seeded_centroids`` as a (C, d) seed matrix and its (C,) norms,
    or None for an empty corpus."""
    import numpy as np

    seeds = seeded_centroids(corpus, n_cells, vec_col, id_col)
    if not seeds:
        return None
    return (
        np.array([v for _, v, _ in seeds], dtype=np.float64),
        np.array([nrm for _, _, nrm in seeds], dtype=np.float64),
    )


# Seeded cell rules for ``ivf_topk_blocked``: the part of the blocked
# pipeline that varies.  ``fit(corpus, vec_col, id_col)`` samples the
# seeds and returns numpy ``(assign, probe)`` over an (n, d) float64
# batch — or None when the corpus has no seeds:
#   assign(m) -> (n,) cell of each row
#   probe(m)  -> (row, cell) index arrays, one entry per probed cell


@dataclass(frozen=True)
class FlatSeedCells:
    """The ``SeededQuantizer`` cells as a numpy rule: every vector is
    scored against ALL C seeds; the corpus takes its argmax (ties ->
    lowest cell, numpy's first max), a query its stable top
    ``n_probe`` — the exact IEEE op sequence and tie order of the
    literal expressions, so ``ivf_topk_blocked`` with these cells is a
    bitwise twin of ``ivf_topk(SeededQuantizer)``.  Cost is
    O(n * C * d), O(n^1.5 d) at C ~ sqrt(n); the seed matrix (C x d
    doubles) rides each task's closure."""

    n_cells: int = 16
    n_probe: int = 4

    def fit(self, corpus, vec_col, id_col):
        import numpy as np

        seeds = _seed_arrays(corpus, self.n_cells, vec_col, id_col)
        if seeds is None:
            return None
        mat, nrm = seeds
        npr = min(self.n_probe, len(mat))  # fewer seeds than probes

        def assign(m):
            return np.argmax(_seq_dots(m, mat) / nrm, axis=1)

        def probe(m):
            # stable argsort of -score: score desc, ties -> lowest cell
            top = np.argsort(-(_seq_dots(m, mat) / nrm), axis=1, kind="stable")
            return np.repeat(np.arange(len(m)), npr), top[:, :npr].reshape(-1)

        return assign, probe


def _mask_invalid_supers(scores, valid):
    """Restrict a (rows x supers) score matrix to the valid (non-empty)
    supers: invalid columns become -inf, so the subsequent first-max
    argmax / stable descending sort picks the best VALID super with
    ties still breaking to the lowest valid index.  Pure helper so the
    empty-super guard is unit-testable without a degenerate corpus."""
    import numpy as np

    if valid.all():
        return scores
    return np.where(valid[None, :], scores, -np.inf)


@dataclass(frozen=True)
class HierSeedCells:
    """Two-level (hierarchical) seeded cells, the FAISS IMI shape and
    the assignment-cost fix for ``FlatSeedCells``' O(n*C*d): vectors
    first pick their best SUPER-cell among S = the first ``n_super``
    seeds of the same LCG-ordered seed list (supers are a prefix of the
    cells, so no second selection rule exists to drift), then rank only
    the cells MAPPED to that super — O(n*(S + C/S)*d), minimized at
    S ~ sqrt(C).  The cell->super map is the C x S argmax of
    seed-to-super cosine (ties -> lowest super), computed once on the
    driver with the same k-ordered fold.

    Measured regimes (SCALING.md): at C=1024 / 800k vectors hier is a
    2x LOSS (the two-level map worsens balance +44% and flat seed
    scoring is only ~25% of the bill); at C=10^4 / 1.6M vectors it is
    a 35x WIN (flat 309s vs hier 8.8s warm, r14 — the balance penalty
    vanishes there, +0.03% sum-of-squared cell sizes).  Pick hier when
    C >= ~10^4; flat remains the declared path below that.

    Probing is quota-based, the IMI convention: a query takes its top
    ``super_probe`` supers, then its top ``cells_per_super`` cells
    WITHIN each probed super — per-super quotas, unlike the flat
    form's global n_probe.  Cell membership therefore DIFFERS from the
    flat cells: a separate declared operating point with its own oracle
    and recall eval (eval_ann_hier_recall), not a bitwise twin.

    Empty supers: a super with NO mapped cells is normally impossible
    (each super IS cell s < S, and Cauchy-Schwarz self-cosine 1 plus
    ties->lowest keeps cell s under super s), but FP noise on
    near-parallel seeds can break the self-mapping.  Vectors and
    queries therefore rank only NON-EMPTY supers (``_mask_invalid_supers``
    — ties still -> lowest non-empty super); the DuckDB oracle mirrors
    the rule with its ``nesupers`` CTE.  Without the mask an orphaned
    vector would crash the kernel (argmax over an empty cell list)
    while the oracle silently dropped it via the inner join on sup
    (r13 ADVICE)."""

    n_cells: int = 16
    n_super: int = 4
    super_probe: int = 2
    cells_per_super: int = 2

    def fit(self, corpus, vec_col, id_col):
        import numpy as np

        seeds = _seed_arrays(corpus, self.n_cells, vec_col, id_col)
        if seeds is None:
            return None
        mat, nrm = seeds
        S = min(self.n_super, len(mat))
        spr = min(self.super_probe, S)
        # cell -> super (ties -> lowest super via first-max); ascending
        # cell ids per super -> first-max == lowest cell
        cell2sup = np.argmax(_seq_dots(mat, mat[:S]) / nrm[:S], axis=1)
        cells_of = [np.where(cell2sup == s)[0].astype("int64") for s in range(S)]
        sup_valid = np.array([len(cl) > 0 for cl in cells_of])
        assert sup_valid.any()  # every cell maps somewhere, so >=1 non-empty

        def sup_scores(m):
            return _mask_invalid_supers(_seq_dots(m, mat[:S]) / nrm[:S], sup_valid)

        def cell_scores(m, cl):
            return _seq_dots(m, mat[cl]) / nrm[cl]

        def assign(m):
            sup = np.argmax(sup_scores(m), axis=1)
            cell = np.zeros(len(m), dtype="int64")
            for s in np.unique(sup):
                mask = sup == s
                cl = cells_of[s]  # non-empty: sup ranges over valid supers
                cell[mask] = cl[np.argmax(cell_scores(m[mask], cl), axis=1)]
            return cell

        def probe(m):
            sorder = np.argsort(-sup_scores(m), axis=1, kind="stable")[:, :spr]
            rows_out, cells_out = [np.zeros(0, "int64")], [np.zeros(0, "int64")]
            for s, cl in enumerate(cells_of):
                rows = np.where((sorder == s).any(axis=1))[0]
                if not len(rows) or not len(cl):
                    continue
                top = np.argsort(-cell_scores(m[rows], cl), axis=1, kind="stable")
                top = top[:, : self.cells_per_super]
                rows_out.append(np.repeat(rows, top.shape[1]))
                cells_out.append(cl[top].reshape(-1))
            return np.concatenate(rows_out), np.concatenate(cells_out)

        return assign, probe


def ivf_topk_blocked(
    corpus: DataFrame,
    queries: DataFrame,
    cells: FlatSeedCells | HierSeedCells,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    hot_cell_rows: int | None = HOT_CELL_ROWS_DEFAULT,
    count_sample_mod: int = 64,
) -> DataFrame:
    """Seeded-IVF top-k as Arrow cell-matrix kernels, built for LARGE
    cell counts; ``cells`` is the assignment and probe rule.  With
    ``FlatSeedCells`` the output is bitwise-identical to
    ``ivf_topk(SeededQuantizer)``; ``HierSeedCells`` is the two-level
    operating point.  An empty corpus returns the empty top-k.

    The expression form embeds every seed vector as plan literals
    (n_cells x dim terms per row expression); that is optimal for the
    small-sf oracle operating point (16 cells: ~1k literals) but the
    plan TREE grows linearly in cells and Catalyst optimization
    superlinearly in tree size — at the hundreds-to-thousands of cells
    a real corpus needs (cells ~ sqrt(n)), plan compilation itself
    becomes the bottleneck (observed: 256 cells did not compile within
    minutes).  Here the seeds live in a closure ndarray instead:

    * assignment / probing: ``mapInPandas`` — per Arrow batch, the
      cells' numpy rule over the k-ordered fold (``_seq_dots``);
    * scoring: cogrouped ``applyInPandas`` per cell — the bipartite
      block-matrix trick of ``embedding_cosine_pairs_blocked``, TILED:
      the cell's query x corpus cosine matrix is computed in
      _Q_BLOCK x _C_BLOCK tiles (a LITERAL 67 MB (64 MiB) peak per task — at
      the sqrt(n)-cells operating point the untiled matrix is ~4n
      entries per task, linear in the corpus, an OOM near 1e9
      vectors), per-query top-k within the cell emitted (rows out =
      queries x probed cells x k, linear — candidate pairs are never
      materialized as rows);
    * one final per-query window over the probed-cells * k survivors.

    ``hot_cell_rows`` is the hub-cell valve: a cell that attracts a
    disproportionate share of both sides splits its CORPUS side into
    hash sub-cells (queries probe every sub-cell), so it becomes
    several smaller tasks instead of one straggler.  Output is
    identical for any split: sub-cells partition the cell's neighbor
    set, per-sub-cell top-k uses the same total order (cosine desc,
    neighbor_id asc), and the final window takes the global top-k over
    the union — the knn_graph argument.  Per-cell corpus counts are
    ESTIMATED from a deterministic 1/``count_sample_mod`` hash sample
    of ids, assigned by the same cells rule (the only extra work —
    O(n/mod) assignments — and the estimate rides a driver-sized ≤C-row
    collect, the ``_cap_buckets`` count-then-act pattern), and any cell
    estimated above the literal row threshold splits into
    ``ceil(est / hot_cell_rows)`` hash sub-cells.  Because
    output is split-INVARIANT (pytest pins trigger-on == trigger-off
    bitwise), sampling error costs only balance, never correctness —
    which is what lets the estimate be a sample instead of a second
    full assignment pass.  Measured trigger point: see SCALING.md r14.

    Tiling preserves bitwise equality because each cosine is an
    independent dim-ordered accumulation (tile membership never enters
    the arithmetic) and the merge re-sorts each row's tile candidates
    into neighbor-id-ascending order before the same stable
    cosine-descending argsort the full matrix used — identical values,
    identical tie order.

    Non-finite cosines (zero-norm vectors -> NaN, inf components) are
    DROPPED from the top-k — the module-wide ``_finite_cosine`` rule,
    enforced identically in the expression tails (explicit filter) and
    the Arrow kernels (isfinite keep), so both forms stay bitwise
    twins even on degenerate inputs (closes the r12 ADVICE NaN
    divergence; pytest pins it with zero-norm vectors).

    Shuffle volume is corpus + queries x probed sub-cells rows in,
    queries x probed sub-cells x k rows out.  pytest
    pins bitwise equality against the expression form (and across
    splits); the DuckDB oracles cover both cell rules."""
    import pandas as pd

    fitted = cells.fit(corpus, vec_col, id_col)
    if fitted is None:
        return _empty_topk(corpus.sparkSession)
    assign, probe = fitted

    def _assign(it):
        for pdf in it:
            if not len(pdf):
                continue
            m = _stack_rows(pdf["cv"])
            yield pd.DataFrame(
                {
                    "neighbor_id": pdf["neighbor_id"].astype("int64"),
                    "cv": [list(v) for v in m],
                    "cnrm": _seq_norm(m),
                    "cell": assign(m).astype("int32"),
                }
            )

    def _probe(it):
        for pdf in it:
            if not len(pdf):
                continue
            m = _stack_rows(pdf["qv"])
            row, cell = probe(m)
            if not len(row):
                continue
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"].to_numpy().astype("int64")[row],
                    "qv": [list(v) for v in m[row]],
                    "qnrm": _seq_norm(m)[row],
                    "cell": cell.astype("int32"),
                }
            )

    assigned = "neighbor_id long, cv array<double>, cnrm double, cell int"

    def vectors(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("cv")
        )

    c = vectors(corpus).mapInPandas(_assign, assigned)
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qv")
    ).mapInPandas(_probe, "query_id long, qv array<double>, qnrm double, cell int")

    cell_splits: dict[int, int] | None = None
    if hot_cell_rows is not None:
        mod = max(1, count_sample_mod)
        sample = corpus.filter(F.pmod(F.xxhash64(F.col(id_col)), F.lit(mod)) == 0)
        est = {
            int(r["cell"]): int(r["n"]) * mod
            for r in vectors(sample)
            .mapInPandas(_assign, assigned)
            .groupBy("cell")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        cell_splits = {
            cell: -(-n // hot_cell_rows)
            for cell, n in est.items()
            if n > hot_cell_rows
        }

    return _blocked_score_tail(q, c, k, cell_splits=cell_splits)


def _blocked_score_tail(
    q,
    c,
    k: int,
    cell_splits: dict[int, int] | None = None,
) -> DataFrame:
    """Scoring tail of ``ivf_topk_blocked``: given probe rows
    (query_id, qv, qnrm, cell) and assigned corpus rows (neighbor_id,
    cv, cnrm, cell), score each cell's query x corpus cosine matrix in
    _Q_BLOCK x _C_BLOCK tiles (literal per-task memory bound; bitwise-
    equal to the untiled matrix — see ivf_topk_blocked), emit per-query
    top-k within the cell, and take the global per-query top-k.

    ``cell_splits`` is the hot-cell valve's split:
    a driver-sized {cell: factor} map — only the listed cells split,
    each into its own factor, via a broadcast join + per-row
    ``sequence`` explode on the probe side.  Output is identical for
    ANY split configuration: sub-cells partition the cell's neighbor
    set, per-sub-cell top-k uses the same total order (cosine desc,
    neighbor_id asc), and the final window takes the global top-k over
    the union — the knn_graph argument."""
    split_rows = [
        (int(cell), int(f))
        for cell, f in sorted((cell_splits or {}).items())
        if f > 1
    ]
    if split_rows:
        spark = q.sparkSession
        sdf = spark.createDataFrame(split_rows, "cell int, __split int")
        factor = F.coalesce(F.col("__split"), F.lit(1))
        c = (
            c.join(F.broadcast(sdf), "cell", "left")
            .withColumn("__split", factor)
            .withColumn(
                "__sub",
                F.pmod(F.xxhash64(F.col("neighbor_id")), F.col("__split")).cast(
                    "int"
                ),
            )
            .drop("__split")
        )
        q = (
            q.join(F.broadcast(sdf), "cell", "left")
            .withColumn("__split", factor)
            .select(
                "query_id",
                "qv",
                "qnrm",
                "cell",
                F.explode(
                    F.sequence(F.lit(0), F.col("__split") - F.lit(1))
                ).alias("__sub"),
            )
        )
        return _blocked_score_window(q, c, k, keys=("cell", "__sub"))
    return _blocked_score_window(q, c, k, keys=("cell",))


def _blocked_score_window(q, c, k: int, keys: tuple[str, ...]) -> DataFrame:
    """Tiled per-(grouping-key) scoring + the final global window —
    the common tail of the split and unsplit forms of
    ``_blocked_score_tail``."""
    import numpy as np
    import pandas as pd

    def _score_cell(key, qpdf, cpdf):
        if not len(qpdf) or not len(cpdf):
            return pd.DataFrame(
                {"query_id": [], "neighbor_id": [], "cosine": []}
            ).astype({"query_id": "int64", "neighbor_id": "int64", "cosine": "float64"})
        # corpus columns in ascending-id order so a STABLE argsort on
        # cosine desc breaks exact ties by neighbor_id asc — the
        # expression form's total order — with no per-query Python
        # loop.  Row order is free: each cosine is an independent
        # j-ordered sum, so permuting corpus rows only permutes matrix
        # rows, bitwise.
        cpdf = cpdf.sort_values("neighbor_id")
        cm = _stack_rows(cpdf["cv"])
        cn = cpdf["cnrm"].to_numpy()
        nid = cpdf["neighbor_id"].to_numpy().astype("int64")
        frames = []
        for q0 in range(0, len(qpdf), _Q_BLOCK):
            qb = qpdf.iloc[q0 : q0 + _Q_BLOCK]
            qm = _stack_rows(qb["qv"])
            qn = qb["qnrm"].to_numpy()
            qid = qb["query_id"].to_numpy().astype("int64")
            tile_c, tile_n = [], []
            for c0 in range(0, len(cpdf), _C_BLOCK):
                cmb = cm[c0 : c0 + _C_BLOCK]
                nid_b = nid[c0 : c0 + _C_BLOCK]
                cos = _seq_dots(qm, cmb) / np.outer(qn, cn[c0 : c0 + _C_BLOCK])
                masked = np.where(nid_b[None, :] == qid[:, None], -np.inf, cos)
                order = np.argsort(-masked, axis=1, kind="stable")[:, :k]
                tile_c.append(np.take_along_axis(masked, order, axis=1))
                tile_n.append(nid_b[order])
            cand_c = np.concatenate(tile_c, axis=1)
            cand_n = np.concatenate(tile_n, axis=1)
            # restore neighbor-id-ascending column order across tiles,
            # then the stable cosine sort reproduces the full-matrix
            # tie order exactly (ids are unique, so the first sort is
            # a total order; -inf self sentinels fall out via keep)
            o1 = np.argsort(cand_n, axis=1, kind="stable")
            cand_c = np.take_along_axis(cand_c, o1, axis=1)
            cand_n = np.take_along_axis(cand_n, o1, axis=1)
            o2 = np.argsort(-cand_c, axis=1, kind="stable")[:, :k]
            take_c = np.take_along_axis(cand_c, o2, axis=1)
            take_n = np.take_along_axis(cand_n, o2, axis=1)
            # isfinite drops the -inf self sentinels AND any NaN/inf
            # cosine (zero-norm / inf components) — the module-wide
            # non-finite rule _finite_cosine applies to the tails
            keep = np.isfinite(take_c)
            frames.append(
                pd.DataFrame(
                    {
                        "query_id": np.repeat(qid, o2.shape[1])[keep.ravel()],
                        "neighbor_id": take_n.ravel()[keep.ravel()],
                        "cosine": take_c.ravel()[keep.ravel()],
                    }
                )
            )
        return pd.concat(frames, ignore_index=True)

    survivors = (
        q.groupBy(*keys)
        .cogroup(c.groupBy(*keys))
        .applyInPandas(_score_cell, "query_id long, neighbor_id long, cosine double")
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("neighbor_id"))
    return (
        survivors.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    planes: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    multiprobe: bool = True,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH
    bucket, then exact cosine rank within.

    ``multiprobe`` additionally probes every bucket at Hamming
    distance 1 from the query's signature (flip one plane's sign) —
    the standard recall fix for sign-LSH: a near neighbor that falls
    on the wrong side of ONE hyperplane is still found.  Candidates
    grow from 1 to (1+planes) buckets of 2^planes — still a small
    corpus fraction at scale."""
    weights = plane_weights(planes, dim)
    c = _with_norm(
        corpus.select(
            F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("cv")
        ),
        "cv",
        "cnrm",
    )
    c = c.withColumn("bucket", _bucket_signature(F.col("cv"), weights))
    q = _with_norm(
        queries.select(
            F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qv")
        ),
        "qv",
        "qnrm",
    )
    q = q.withColumn("bucket", _bucket_signature(F.col("qv"), weights))
    if multiprobe:
        probe_buckets = F.array(
            F.col("bucket"),
            *[F.col("bucket").bitwiseXOR(F.lit(1 << p).cast("long")) for p in range(planes)],
        )
        q = q.select(
            "query_id", "qv", "qnrm", F.explode(probe_buckets).alias("bucket")
        )
    return _score_and_rank(c.join(F.broadcast(q), "bucket"), k)


def knn_graph(
    emb: DataFrame,
    k: int = 5,
    n_blocks: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine k-NN graph over the WHOLE corpus — the curation
    primitive behind SemDeDup-style pruning, density scoring, and
    graph-based diversity sampling, where every vector (not a small
    query set) needs its neighbors.

    Same triangle block layout as
    ``dedup.embedding_cosine_pairs_blocked``: each vector visits the
    B tasks covering its block's pairings (O(n*B) shuffle), each task
    computes its block-pair cosine matrix in one Arrow batch and emits
    ONLY its local top-k per vector (k rows per vector per task, so the
    reduce side sees O(n*B*k) candidates, never O(n^2)).  The global
    per-vector top-k over the union of per-task top-ks equals the true
    top-k because tasks partition the neighbor set and both selections
    use the same total order (cosine desc, neighbor id asc).  The
    k-ordered numpy accumulation keeps cosines bitwise-equal to the
    Catalyst/DuckDB fold, so the declared query is oracle-checkable.

    Output: (vec_id, neighbor_id, cosine, rank), rank in 1..k.
    """
    import numpy as np
    import pandas as pd

    g = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int")
    tasks = F.expr(
        f"transform(sequence(0, {n_blocks - 1}),"
        " t -> named_struct('ti', least(__g, t), 'tj', greatest(__g, t)))"
    )
    exploded = (
        emb.select(F.col(id_col), F.col(vec_col), g.alias("__g"))
        .select(id_col, vec_col, "__g", F.explode(tasks).alias("__t"))
        .select(
            F.col(id_col).alias("vid"),
            F.col(vec_col).alias("vec"),
            F.col("__g").alias("blk"),
            F.col("__t.ti").alias("ti"),
            F.col("__t.tj").alias("tj"),
        )
    )

    def _emit_topk(q_ids, n_ids, cos):
        # per row: top-k under (cosine desc, neighbor id asc)
        out_q, out_n, out_c = [], [], []
        for r in range(cos.shape[0]):
            order = np.lexsort((n_ids, -cos[r]))[:k]
            out_q.append(np.full(len(order), q_ids[r]))
            out_n.append(n_ids[order])
            out_c.append(cos[r][order])
        if not out_q:
            return [], [], []
        return np.concatenate(out_q), np.concatenate(out_n), np.concatenate(out_c)

    def _part(pdf: pd.DataFrame) -> pd.DataFrame:
        ti, tj = int(pdf["ti"].iloc[0]), int(pdf["tj"].iloc[0])
        ids = pdf["vid"].to_numpy()
        mat = _stack_rows(pdf["vec"])
        blk = pdf["blk"].to_numpy()
        empty = pd.DataFrame({"vec_id": [], "neighbor_id": [], "cosine": []}).astype(
            {"vec_id": "int64", "neighbor_id": "int64", "cosine": "float64"}
        )
        if ti == tj:
            if len(ids) < 2:
                return empty
            cos = _seq_dots(mat, mat) / np.outer(_seq_norm(mat), _seq_norm(mat))
            np.fill_diagonal(cos, -np.inf)  # exclude self
            q, n, c = _emit_topk(ids, ids, cos)
        else:
            am = blk == ti
            a_ids, b_ids = ids[am], ids[~am]
            a_mat, b_mat = mat[am], mat[~am]
            if len(a_ids) == 0 or len(b_ids) == 0:
                return empty
            cos = _seq_dots(a_mat, b_mat) / np.outer(_seq_norm(a_mat), _seq_norm(b_mat))
            qa, nna, ca = _emit_topk(a_ids, b_ids, cos)
            qb, nnb, cb = _emit_topk(b_ids, a_ids, cos.T)
            q = np.concatenate([qa, qb]) if len(qa) or len(qb) else []
            n = np.concatenate([nna, nnb]) if len(nna) or len(nnb) else []
            c = np.concatenate([ca, cb]) if len(ca) or len(cb) else []
        if len(q) == 0:
            return empty
        return pd.DataFrame(
            {"vec_id": np.asarray(q, dtype="int64"),
             "neighbor_id": np.asarray(n, dtype="int64"),
             "cosine": np.asarray(c, dtype="float64")}
        )

    cand = exploded.groupBy("ti", "tj").applyInPandas(
        _part, "vec_id long, neighbor_id long, cosine double"
    )
    # tiny-corpus guard: a vector with < k true neighbors would surface
    # its -inf self sentinel from the diagonal task; non-finite cosines
    # (zero-norm vectors) are dropped here too so the global F.desc
    # window agrees with the kernel's local order (NaN sorts LAST in
    # np.lexsort but FIRST under F.desc — the module-wide rule drops it)
    cand = cand.filter(
        (F.col("vec_id") != F.col("neighbor_id"))
        & _finite_cosine(F.col("cosine"))
    )
    w = W.partitionBy("vec_id").orderBy(F.desc("cosine"), F.col("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


def hard_negatives(
    emb: DataFrame,
    k: int = 5,
    n_blocks: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training: for every vector,
    the k most-cosine-similar vectors with a DIFFERENT label — the
    near-boundary negatives that make embedding models learn, versus
    random negatives that are trivially separable.

    Same triangle block layout and k-ordered numpy arithmetic as
    :func:`knn_graph` (O(n*B) shuffle, local top-k per task, global
    top-k over O(n*B*k) candidates); the only difference is the mask:
    instead of just the self-diagonal, every SAME-label pair is masked
    to -inf before the local top-k, so the selection happens among
    negatives only.  Labels ride the same Arrow batch — no extra join.

    Output: (vec_id, label, neighbor_id, neighbor_label, cosine, rank).
    """
    import numpy as np
    import pandas as pd

    g = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int")
    tasks = F.expr(
        f"transform(sequence(0, {n_blocks - 1}),"
        " t -> named_struct('ti', least(__g, t), 'tj', greatest(__g, t)))"
    )
    exploded = (
        emb.select(F.col(id_col), F.col(vec_col), F.col(label_col), g.alias("__g"))
        .select(id_col, vec_col, label_col, "__g", F.explode(tasks).alias("__t"))
        .select(
            F.col(id_col).alias("vid"),
            F.col(vec_col).alias("vec"),
            F.col(label_col).alias("lbl"),
            F.col("__g").alias("blk"),
            F.col("__t.ti").alias("ti"),
            F.col("__t.tj").alias("tj"),
        )
    )

    def _emit_topk(q_ids, q_lbl, n_ids, n_lbl, cos):
        out = {"q": [], "ql": [], "n": [], "nl": [], "c": []}
        for r in range(cos.shape[0]):
            order = np.lexsort((n_ids, -cos[r]))[:k]
            order = order[np.isfinite(cos[r][order])]
            out["q"].append(np.full(len(order), q_ids[r]))
            out["ql"].append(np.full(len(order), q_lbl[r]))
            out["n"].append(n_ids[order])
            out["nl"].append(n_lbl[order])
            out["c"].append(cos[r][order])
        return {kk: np.concatenate(v) if v else np.array([]) for kk, v in out.items()}

    cols = {
        "vec_id": "int64", "label": "int32",
        "neighbor_id": "int64", "neighbor_label": "int32", "cosine": "float64",
    }

    def _part(pdf: pd.DataFrame) -> pd.DataFrame:
        ti, tj = int(pdf["ti"].iloc[0]), int(pdf["tj"].iloc[0])
        ids = pdf["vid"].to_numpy()
        lbl = pdf["lbl"].to_numpy()
        mat = _stack_rows(pdf["vec"])
        blk = pdf["blk"].to_numpy()
        empty = pd.DataFrame({c: [] for c in cols}).astype(cols)

        def frame(o):
            if len(o["q"]) == 0:
                return empty
            return pd.DataFrame(
                {"vec_id": o["q"].astype("int64"),
                 "label": o["ql"].astype("int32"),
                 "neighbor_id": o["n"].astype("int64"),
                 "neighbor_label": o["nl"].astype("int32"),
                 "cosine": o["c"].astype("float64")}
            )

        if ti == tj:
            if len(ids) < 2:
                return empty
            cos = _seq_dots(mat, mat) / np.outer(_seq_norm(mat), _seq_norm(mat))
            cos[np.equal.outer(lbl, lbl)] = -np.inf  # mask positives (incl. self)
            return frame(_emit_topk(ids, lbl, ids, lbl, cos))
        am = blk == ti
        a_ids, b_ids = ids[am], ids[~am]
        a_lbl, b_lbl = lbl[am], lbl[~am]
        a_mat, b_mat = mat[am], mat[~am]
        if len(a_ids) == 0 or len(b_ids) == 0:
            return empty
        cos = _seq_dots(a_mat, b_mat) / np.outer(_seq_norm(a_mat), _seq_norm(b_mat))
        cos[np.equal.outer(a_lbl, b_lbl)] = -np.inf
        oa = _emit_topk(a_ids, a_lbl, b_ids, b_lbl, cos)
        ob = _emit_topk(b_ids, b_lbl, a_ids, a_lbl, cos.T)
        return pd.concat([frame(oa), frame(ob)], ignore_index=True)

    cand = exploded.groupBy("ti", "tj").applyInPandas(
        _part,
        "vec_id long, label int, neighbor_id long, neighbor_label int, cosine double",
    )
    w = W.partitionBy("vec_id").orderBy(F.desc("cosine"), F.col("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )
