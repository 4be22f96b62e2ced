"""Embedding-column utilities for training-data pipelines.

  quantize_int8   symmetric per-vector int8 quantization — the standard
                  4x storage/bandwidth reduction before ANN index build
                  or shipping embeddings to a trainer.

All math is native Catalyst higher-order functions in DOUBLE, with
rounding expressed as floor(x + 0.5) so results are bit-deterministic
across engines (Spark's round() and DuckDB's round() disagree on
half-way ties; floor does not).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .similarity import _as_double


def quantize_int8(
    emb: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Per-vector symmetric int8 quantization.

    scale = max(|v|) / 127;  q_i = floor(v_i / scale + 0.5)  (so the
    largest-magnitude component maps to ±127).  Output is EXPLODED to
    (id, dim, q, scale) scalar rows — array columns don't canonicalize
    identically across engines, scalars do.

    Scale shape: one narrow projection + posexplode, no shuffle at all;
    at 100 TB this runs in the scan stage and writes a table 4x
    smaller than the float32 input.
    """
    base = emb.select(F.col(id_col), _as_double(vec_col).alias("v")).withColumn(
        "scale",
        F.array_max(F.transform(F.col("v"), lambda x: F.abs(x))) / F.lit(127.0),
    )
    # all-zero vector -> scale 0: quantize to 0 instead of dividing by
    # zero (nullif/coalesce, mirrored exactly in the oracle SQL)
    q = F.transform(
        F.col("v"),
        lambda x: F.coalesce(
            F.floor(x / F.nullif(F.col("scale"), F.lit(0.0)) + F.lit(0.5)).cast(
                "int"
            ),
            F.lit(0),
        ),
    )
    return base.select(F.col(id_col), F.col("scale"), F.posexplode(q).alias("dim", "q")).select(
        F.col(id_col),
        F.col("dim").cast("int").alias("dim"),
        F.col("q"),
        F.col("scale"),
    )


def _fixed_moments(qdf: DataFrame, dim: int):
    """Exact integer moments ``(n, S = sum q q^T, m = sum q)`` of a
    quantized-vector column ``q`` (array<long>) in ONE distributed
    Arrow pass: each partition emits a single (n, d*d, d) int64 row
    (numpy does the O(rows*d^2) flops), the O(partitions) partials are
    reduced driver-side with exact Python ints.  Integer addition
    commutes, so the result is layout-invariant — the foundation of
    every oracle-reproducible eigensolve here.

    Overflow: the numpy int64 accumulation WRAPS silently (no ANSI
    throw), so each partition checks the exact bound
    ``n_rows * max|q|^2 < 2^63`` with Python ints after accumulating —
    every intermediate partial sum of S is bounded by that product, so
    the post-hoc check proves no wrap occurred (~2^39 rows/partition at
    the 2^12 grid); it raises OverflowError instead of corrupting."""
    import numpy as np
    import pandas as pd

    def partial(it):
        n = 0
        maxabs = 0
        s = np.zeros((dim, dim), dtype=np.int64)
        m = np.zeros(dim, dtype=np.int64)
        for pdf in it:
            v = np.array(pdf["q"].tolist(), dtype=np.int64)
            if len(v):
                n += len(v)
                maxabs = max(maxabs, int(np.abs(v).max()))
                s += v.T @ v
                m += v.sum(0)
        if n and n * maxabs * maxabs >= 2**63:
            raise OverflowError(
                f"_fixed_moments int64 bound exceeded: {n} rows x "
                f"max|q|={maxabs} in one partition; repartition finer"
            )
        yield pd.DataFrame(
            {"n": [n], "s": [s.ravel().tolist()], "m": [m.tolist()]}
        )

    parts = qdf.select("q").mapInPandas(
        partial, "n long, s array<long>, m array<long>"
    ).collect()
    n = sum(int(r.n) for r in parts)
    s_mat = [
        [sum(int(r.s[i * dim + j]) for r in parts) for j in range(dim)]
        for i in range(dim)
    ]
    m_vec = [sum(int(r.m[i]) for r in parts) for i in range(dim)]
    return n, s_mat, m_vec


def _tdiv(a: int, num: int, den: int) -> int:
    """Sign-explicit truncating scale — identical to the SQL CASE form
    ``CASE WHEN a<0 THEN -(((-a)*num)//den) ELSE (a*num)//den END``."""
    return -((-a) * num // den) if a < 0 else (a * num) // den


def power_deflate_components(
    n: int,
    s_mat: list[list[int]],
    m_vec: list[int],
    k: int,
    ascale: int = 1 << 16,
    xscale: int = 1 << 20,
    iters: int = 12,
) -> list[list[int]]:
    """Top-``k`` eigenvector directions of ``A = n*S - m m^T`` by
    FIXED-POINT power iteration with Hotelling deflation — pure Python
    ints, bit-reproducible by an unrolled SQL CTE chain.

    Per component: 12 power steps (``y = A x``; rescale to |x|<=2^20
    with sign-explicit truncating division), canonical sign (max-|x|
    coordinate, lowest index on ties, made positive), then deflate
    ``A <- A*(w.w)^2 - (w.A.w) * w w^T`` and rescale back to
    |A|<=2^16.  Deflation intermediates reach ~2^109 (A*(w.w)^2 with
    w.w <= 64*2^40), so the SQL twin carries them as HUGEINT; the
    rescale product stays under 2^126.  Python ints are exact at any
    width, so both engines replay identically."""
    dim = len(m_vec)
    a_raw = [
        [n * s_mat[i][j] - m_vec[i] * m_vec[j] for j in range(dim)]
        for i in range(dim)
    ]
    amax = max(abs(v) for row in a_raw for v in row)
    if amax == 0:
        raise ValueError("power_deflate_components: zero covariance")
    a = [[_tdiv(v, ascale, amax) for v in row] for row in a_raw]
    comps: list[list[int]] = []
    for c in range(k):
        x = [xscale] * dim
        for _ in range(iters):
            y = [sum(a[i][j] * x[j] for j in range(dim)) for i in range(dim)]
            ymax = max(abs(v) for v in y)
            if ymax == 0:
                raise ValueError(
                    "power_deflate_components: iteration collapsed to zero"
                )
            x = [_tdiv(v, xscale, ymax) for v in y]
        lead = min(range(dim), key=lambda i: (-abs(x[i]), i))
        if x[lead] < 0:
            x = [-v for v in x]
        comps.append(x)
        if c + 1 < k:
            w2 = sum(v * v for v in x)
            waw = sum(
                x[i] * a[i][j] * x[j]
                for i in range(dim)
                for j in range(dim)
            )
            raw = [
                [
                    a[i][j] * w2 * w2 - waw * x[i] * x[j]
                    for j in range(dim)
                ]
                for i in range(dim)
            ]
            amax = max(abs(v) for row in raw for v in row)
            if amax == 0:
                raise ValueError(
                    "power_deflate_components: deflated matrix is zero"
                )
            a = [[_tdiv(v, ascale, amax) for v in row] for row in raw]
    return comps


def pca_project_fixed(
    emb: DataFrame,
    vec_col: str = "embedding",
    keep_cols: tuple[str, ...] = ("vec_id", "label"),
    k: int = 8,
    grid: int = 4096,
    ascale: int = 1 << 16,
    xscale: int = 1 << 20,
    iters: int = 12,
) -> DataFrame:
    """Project every vector onto ``k`` fixed-point principal directions
    as integer columns ``pc1n..pckn`` — oracle-reproducible where a
    LAPACK eigh projection is neither cross-engine- nor
    cross-platform-bit-stable.

    Same recipe as :func:`pca_power_fixed` extended to k components via
    :func:`power_deflate_components` (Hotelling deflation between power
    solves).  The corpus passes are (1) the exact-integer-moments Arrow
    pass and (2) the projection scan ``pc_cn = n*(q.w_c) - (m.w_c)``,
    emitted as FLAT unrolled literal expressions over per-dim scalar
    columns (the measured 52x-over-HOF-lambda pattern from the PQ
    encode, SCALING.md) — no Python, no shuffle, scan-stage only.

    Overflow bounds (ANSI throws): |q_i| <= grid, |w_i| <= 2^20 so
    |q.w| <= 64*4096*2^20 = 2^44 and |pc_cn| <= 2*n*2^44 — safe to
    n ~= 2^17 rows; drop grid/xscale a notch each 4x beyond (the
    pca_power_fixed bound).
    """
    dim_probe = emb.select(vec_col).first()
    if dim_probe is None or dim_probe[0] is None:
        raise ValueError("pca_project_fixed: empty input")
    dim = len(dim_probe[0])
    qexpr = F.transform(
        F.col(vec_col).cast("array<double>"),
        lambda x: F.floor(x * F.lit(float(grid))).cast("long"),
    )
    n, s_mat, m_vec = _fixed_moments(emb.select(qexpr.alias("q")), dim)
    if n == 0:
        raise ValueError("pca_project_fixed: empty input")
    comps = power_deflate_components(
        n, s_mat, m_vec, k, ascale=ascale, xscale=xscale, iters=iters
    )
    qcols = [
        F.expr(
            f"CAST(floor(CAST({vec_col}[{i}] AS DOUBLE) * "
            f"{float(grid)!r}D) AS BIGINT)"
        ).alias(f"__q{i}")
        for i in range(dim)
    ]
    base = emb.select(*keep_cols, *qcols)
    proj = []
    for c, w in enumerate(comps):
        mdot = sum(m_vec[i] * w[i] for i in range(dim))
        terms = " + ".join(
            f"__q{i} * {w[i]}L" for i in range(dim) if w[i] != 0
        )
        proj.append(
            F.expr(f"CAST({n}L * ({terms}) - {mdot}L AS BIGINT)").alias(
                f"pc{c + 1}n"
            )
        )
    return base.select(*keep_cols, *proj)


def pca_power_fixed(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    keep_cols: tuple[str, ...] = ("label",),
    grid: int = 4096,
    ascale: int = 1 << 16,
    xscale: int = 1 << 20,
    iters: int = 12,
) -> DataFrame:
    """Top principal component by FIXED-POINT power iteration —
    deterministic and oracle-reproducible, where LAPACK ``eigh`` is
    neither cross-engine- nor cross-platform-bit-stable.

    Construction (every step exact integer arithmetic, identical in
    Spark, Python, and ANSI SQL):

    1. Quantize vectors to the 2^-12 grid: ``q_i = floor(v_i * 4096)``
       (power-of-two scaling of a float-widened double is exact; floor
       is IEEE-identical in both engines).
    2. One distributed Arrow pass accumulates the exact integer moments
       ``n``, ``m = sum q``, ``S = sum q q^T`` (int64; per-partition
       partials are order-free because integer addition commutes).
       Collect is O(partitions * d^2), independent of corpus size.
    3. ``A = n*S - m m^T`` (the covariance times n^2 — same
       eigenvectors, no division) is rescaled to ``|A'| <= 2^16`` with
       sign-explicit truncating division (``-((-a)*s//amax)`` for
       negatives, so engine floor-vs-truncate conventions can't
       diverge), then 12 power-iteration steps run on the driver in
       pure Python ints: ``y = A' x``; ``x' = sign(y)*(|y|*2^20//ymax)``.
       d x d = 64 x 64 — driver cost is microseconds; the DATA never
       leaves the cluster.
    4. Sign canonicalization: flip so the max-|x| coordinate (lowest
       index on ties) is positive.  Steps 3-4 are
       :func:`power_deflate_components` with ``k=1``.
    5. Distributed projection: ``pc1n = n * (q . x) - (m . x)`` — the
       centered projection scaled by n*grid*xscale, one zip_with +
       aggregate fold per row, no shuffle, scan-stage only.

    Overflow bounds (ANSI mode throws, so these are load-bearing):
    |q_i| <= grid, |x_i| <= 2^20, so |q.x| <= 64*4096*2^20 = 2^44 and
    |pc1n| <= 2*n*2^44 — safe for n up to ~2^17 corpus rows per the
    gate scales and ~2^18 beyond; raise ``grid`` down / ``xscale``
    down one notch each 4x beyond that.
    """
    qexpr = F.transform(
        F.col(vec_col).cast("array<double>"),
        lambda x: F.floor(x * F.lit(float(grid))).cast("long"),
    )
    qdf = emb.select(F.col(id_col), *keep_cols, qexpr.alias("q"))
    probe = qdf.select("q").first()
    if probe is None or probe[0] is None:
        raise ValueError("pca_power_fixed: empty input")
    dim = len(probe[0])
    n, s_mat, m_vec = _fixed_moments(qdf, dim)
    if n == 0:
        raise ValueError("pca_power_fixed: empty input")

    x = power_deflate_components(
        n, s_mat, m_vec, 1, ascale=ascale, xscale=xscale, iters=iters
    )[0]
    mdotx = sum(m_vec[i] * x[i] for i in range(dim))
    xlit = F.array(*[F.lit(v).cast("long") for v in x])
    dot = F.aggregate(
        F.zip_with(F.col("q"), xlit, lambda qi, wi: qi * wi),
        F.lit(0).cast("long"),
        lambda acc, t: acc + t,
    )
    return qdf.select(
        F.col(id_col),
        *keep_cols,
        (F.lit(n).cast("long") * dot - F.lit(mdotx).cast("long"))
        .cast("long")
        .alias("pc1n"),
    )
