"""Round-12 wave 28: margin-based bitext mining + hubness audit must
agree with an independent brute-force numpy recompute (same shifted-
integer arithmetic), not just the DuckDB oracle."""

from __future__ import annotations

import math

import numpy as np
import pytest

pytestmark = pytest.mark.usefixtures("spark")

SF = "/root/testdata/sf0.001"
K = 4


def _queries():
    import __spark_entry__

    __spark_entry__._registry()

    from greenbuttonengine_spark.plans.registry import QUERIES

    return QUERIES


@pytest.fixture(scope="module")
def brute(spark):
    """Brute-force margin table: {src: (tgt, u_e9, margin_ppm)} plus
    the per-target best-source map and per-target hub counts."""
    from greenbuttonengine_spark.sources.catalog import load_table

    rows = load_table(spark, "embeddings", SF).select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    mat = np.stack([np.asarray(r.embedding, dtype=np.float64) for r in rows])
    # k-ordered accumulation to match the kernel's IEEE op sequence
    d = mat.shape[1]
    dots = np.zeros((len(ids), len(ids)))
    for k in range(d):
        dots += np.outer(mat[:, k], mat[:, k])
    norms = np.sqrt(np.diag(dots).copy())
    cos = dots / np.outer(norms, norms)
    src_ids = ids[ids % 2 == 0]
    tgt_ids = ids[ids % 2 == 1]
    u = {}
    for s in src_ids:
        si = np.where(ids == s)[0][0]
        for t in tgt_ids:
            ti = np.where(ids == t)[0][0]
            u[(s, t)] = int(math.floor((cos[si, ti] + 2.0) * 1e9))
    sum_src = {
        s: sum(sorted((u[(s, t)] for t in tgt_ids), reverse=True)[:K])
        for s in src_ids
    }
    sum_tgt = {
        t: sum(sorted((u[(s, t)] for s in src_ids), reverse=True)[:K])
        for t in tgt_ids
    }
    margin = {
        (s, t): (u[(s, t)] * 2 * K * 1000000) // (sum_src[s] + sum_tgt[t])
        for (s, t) in u
    }
    best_src = {
        s: max(tgt_ids, key=lambda t: (margin[(s, t)], u[(s, t)], -t))
        for s in src_ids
    }
    best_tgt = {
        t: max(src_ids, key=lambda s: (margin[(s, t)], u[(s, t)], -s))
        for t in tgt_ids
    }
    hub: dict[int, int] = {}
    for s in src_ids:
        for t in sorted(tgt_ids, key=lambda t: (-u[(s, t)], t))[:K]:
            hub[t] = hub.get(t, 0) + 1
    return {
        "u": u,
        "margin": margin,
        "best_src": best_src,
        "best_tgt": best_tgt,
        "hub": hub,
        "n_src": len(src_ids),
    }


def test_miner_matches_bruteforce(spark, brute):
    got = {r.src_id: r for r in _queries()["mine_bitext_margin"].fn(spark, SF).collect()}
    assert set(got) == set(brute["best_src"])  # one row per even vec_id
    for s, r in got.items():
        assert r.src_id % 2 == 0 and r.tgt_id % 2 == 1
        assert r.tgt_id == brute["best_src"][s]
        assert r.cos_shift_e9 == brute["u"][(s, r.tgt_id)]
        assert r.margin_ppm == brute["margin"][(s, r.tgt_id)]
        assert r.mutual == (brute["best_tgt"][r.tgt_id] == s)
        assert r.above_mean == (r.margin_ppm >= 1000000)


def test_miner_margin_suppresses_hubs(spark, brute):
    """The margin of a pair is bounded by 2k*1e6 * u / (u + ...): a
    pair where BOTH endpoints have it as their sole strong neighbor
    scores high; a hub target inflates sum_tgt and drags every margin
    involving it down — check the arithmetic identity that implies."""
    for (s, t), m in brute["margin"].items():
        u = brute["u"][(s, t)]
        # denominator contains u at most twice (once per side's top-k)
        assert m <= (u * 2 * K * 1000000) // (2 * u)  # = k * 1e6


def test_hubness_audit_matches_bruteforce(spark, brute):
    got = {
        r.tgt_id: r
        for r in _queries()["xlingual_hubness_audit"].fn(spark, SF).collect()
    }
    assert set(got) == set(brute["hub"])
    for t, r in got.items():
        assert r.hub_count == brute["hub"][t]
    # every source contributes exactly K nominations
    assert sum(r.hub_count for r in got.values()) == K * brute["n_src"]


def test_ann_miner_consistent_with_exact_cosines(spark, brute):
    """The ANN tier retrieves candidates approximately but scores
    them EXACTLY: every emitted pair's shifted similarity must equal
    the brute-force value for that pair, parities must hold, and the
    flags must be internally consistent."""
    rows = _queries()["mine_bitext_margin_ann"].fn(spark, SF).collect()
    assert rows
    srcs = [r.src_id for r in rows]
    assert len(srcs) == len(set(srcs))  # one row per source
    for r in rows:
        assert r.src_id % 2 == 0 and r.tgt_id % 2 == 1
        assert r.cos_shift_e9 == brute["u"][(r.src_id, r.tgt_id)]
        assert r.above_mean == (r.margin_ppm >= 1000000)
        # candidate-set neighborhoods are a subset of the full ones,
        # so the ANN denominator can only shrink: the ANN margin for
        # the SAME pair is >= the exact-tier margin
        assert r.margin_ppm >= brute["margin"][(r.src_id, r.tgt_id)]


def test_blocked_ivf_bitwise_equals_expression_form(spark):
    """The Arrow cell-matrix retriever (ivf_topk_blocked) must be
    bitwise-identical to the literal-expression form it replaces at
    scale — same seeds, same IEEE fold order, same tie-breaks."""
    from pyspark.sql import functions as F

    from greenbuttonengine_spark.extensions import similarity
    from greenbuttonengine_spark.sources.catalog import load_table

    emb = load_table(spark, "embeddings", SF)
    even = emb.filter(F.pmod(F.col("vec_id"), F.lit(2)) == 0)
    odd = emb.filter(F.pmod(F.col("vec_id"), F.lit(2)) == 1)
    expr = {
        (r.query_id, r.neighbor_id): (r.cosine, r.rank)
        for r in similarity.ivf_topk(
            odd, even, similarity.SeededQuantizer(16), k=16, n_probe=4
        ).collect()
    }
    blocked = {
        (r.query_id, r.neighbor_id): (r.cosine, r.rank)
        for r in similarity.ivf_topk_blocked(
            odd, even, similarity.FlatSeedCells(16, 4), k=16
        ).collect()
    }
    assert expr == blocked  # keys, exact double cosines, ranks


def test_agreement_eval_composes_the_two_miners(spark):
    """The one-row agreement eval must equal recomputing the counters
    from the two declared miners' own outputs."""
    qs = _queries()
    exact = {r.src_id: r for r in qs["mine_bitext_margin"].fn(spark, SF).collect()}
    ann = {r.src_id: r for r in qs["mine_bitext_margin_ann"].fn(spark, SF).collect()}
    got = qs["eval_bitext_ann_agreement"].fn(spark, SF).collect()[0]
    assert got.n_src == len(exact)
    assert got.n_covered == sum(1 for s in exact if s in ann)
    same = sum(1 for s, r in exact.items() if s in ann and ann[s].tgt_id == r.tgt_id)
    assert got.n_same_best == same
    assert got.n_exact_above_mean == sum(r.above_mean for r in exact.values())
    assert got.n_ann_above_mean == sum(
        ann[s].above_mean for s in exact if s in ann
    )
    assert got.n_exact_mutual == sum(r.mutual for r in exact.values())
    assert got.n_ann_mutual == sum(ann[s].mutual for s in exact if s in ann)
    assert got.agree_ppm == same * 1000000 // len(exact)
    # r13 accept-decision recovery: accepted = mutual AND above_mean
    exact_acc = {s for s, r in exact.items() if r.mutual and r.above_mean}
    ann_acc = {
        s for s in exact
        if s in ann and ann[s].mutual and ann[s].above_mean
    }
    recovered = {
        s for s in exact_acc & ann_acc if ann[s].tgt_id == exact[s].tgt_id
    }
    assert got.n_exact_accepted == len(exact_acc)
    assert got.n_ann_accepted == len(ann_acc)
    assert got.n_accept_recovered == len(recovered)
    assert got.accept_recall_ppm == (
        len(recovered) * 1000000 // max(len(exact_acc), 1)
    )


def test_blocked_ivf_tiling_and_split_bitwise_invariant(spark, monkeypatch):
    """The literal memory bound (r12 VERDICT item 1) must not change a
    bit: force tiny _Q_BLOCK/_C_BLOCK tiles (so the tiled merge path is
    actually exercised — sf0.001 cells are far below the production 64
    MB bound), and pin it against the untiled single-matrix result."""
    from pyspark.sql import functions as F

    from greenbuttonengine_spark.extensions import similarity
    from greenbuttonengine_spark.sources.catalog import load_table

    emb = load_table(spark, "embeddings", SF)
    even = emb.filter(F.pmod(F.col("vec_id"), F.lit(2)) == 0)
    odd = emb.filter(F.pmod(F.col("vec_id"), F.lit(2)) == 1)

    def run(**kw):
        return {
            (r.query_id, r.neighbor_id): (r.cosine, r.rank)
            for r in similarity.ivf_topk_blocked(
                odd, even, similarity.FlatSeedCells(16, 4), k=16, **kw
            ).collect()
        }

    baseline = run()
    monkeypatch.setattr(similarity, "_Q_BLOCK", 3)
    monkeypatch.setattr(similarity, "_C_BLOCK", 5)
    assert run() == baseline  # tiled == untiled, exact doubles


def test_auto_hot_cell_valve_is_output_invariant(spark):
    """r13 VERDICT item 2: the AUTO per-cell valve (hot_cell_rows) must
    be bitwise identical to trigger-off.  threshold=1 with exact counts
    (count_sample_mod=1) guarantees EVERY non-empty cell splits (the
    triggered path runs, including the probe-side sequence explode and
    the (cell, __sub) cogroup); a sampled estimate (mod=4) must also be
    invariant — sampling error costs balance, never correctness."""
    from pyspark.sql import functions as F

    from greenbuttonengine_spark.extensions import similarity
    from greenbuttonengine_spark.sources.catalog import load_table

    emb = load_table(spark, "embeddings", SF)
    even = emb.filter(F.pmod(F.col("vec_id"), F.lit(2)) == 0)
    odd = emb.filter(F.pmod(F.col("vec_id"), F.lit(2)) == 1)

    def run(**kw):
        return {
            (r.query_id, r.neighbor_id): (r.cosine, r.rank)
            for r in similarity.ivf_topk_blocked(
                odd, even, similarity.FlatSeedCells(16, 4), k=16, **kw
            ).collect()
        }

    baseline = run()
    assert run(hot_cell_rows=1, count_sample_mod=1) == baseline
    assert run(hot_cell_rows=4, count_sample_mod=4) == baseline
    # threshold far above any cell: valve stays closed, same path
    assert run(hot_cell_rows=10**9, count_sample_mod=1) == baseline


def test_blocked_ivf_property_matches_expression_form(spark):
    """Randomized-configuration equivalence (r12 VERDICT item 6): the
    blocked kernel's tie-order reasoning (stable argsort + id-sorted
    columns) must equal the expression form across random dims, cell
    counts, probe counts, DUPLICATE vectors (exact cosine ties) and
    n_probe > n_cells."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from greenbuttonengine_spark.extensions import similarity

    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        seed=st.integers(0, 2**31 - 1),
        dim=st.integers(2, 8),
        n=st.integers(6, 28),
        n_cells=st.integers(1, 8),
        n_probe=st.integers(1, 10),
        k=st.integers(1, 8),
        dup_every=st.integers(2, 5),
    )
    def check(seed, dim, n, n_cells, n_probe, k, dup_every):
        import numpy as np

        rng = np.random.RandomState(seed)
        mat = rng.randint(-4, 5, size=(n, dim)).astype(float)
        # no zero-norm vectors (documented kernel invariant)
        mat[np.abs(mat).sum(axis=1) == 0, 0] = 1.0
        # plant exact duplicates -> exact cosine ties across ids
        for i in range(dup_every, n, dup_every):
            mat[i] = mat[i - dup_every]
        rows = [(i, [float(x) for x in mat[i]]) for i in range(n)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        corpus = df.filter("vec_id % 2 = 1")
        queries = df.filter("vec_id % 2 = 0")
        cells = similarity.FlatSeedCells(n_cells, n_probe)
        expr = {
            (r.query_id, r.neighbor_id): (r.cosine, r.rank)
            for r in similarity.ivf_topk(
                corpus, queries, similarity.SeededQuantizer(n_cells),
                k=k, n_probe=n_probe,
            ).collect()
        }
        blocked = {
            (r.query_id, r.neighbor_id): (r.cosine, r.rank)
            for r in similarity.ivf_topk_blocked(corpus, queries, cells, k=k).collect()
        }
        assert expr == blocked

    check()


def test_ivf_empty_corpus_returns_empty(spark):
    """ADVICE r12: an empty corpus must not raise (seeds == [])."""
    from greenbuttonengine_spark.extensions import dedup, similarity

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    queries = spark.createDataFrame(
        [(0, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    for out in (
        similarity.ivf_topk(
            empty, queries, similarity.SeededQuantizer(4), k=3, n_probe=2
        ),
        similarity.ivf_topk_blocked(
            empty, queries, similarity.FlatSeedCells(4, 2), k=3
        ),
    ):
        assert out.count() == 0
        assert out.columns == ["query_id", "neighbor_id", "cosine", "rank"]
    # the seeded SemDeDup cell join on the same empty corpus: no pairs
    sem = dedup.semantic_dedup_pairs(empty, similarity.SeededQuantizer(4))
    assert sem.count() == 0
    assert sem.columns == ["id_a", "id_b", "cosine"]


def test_clustered_fixture_is_cross_engine_bitwise(spark):
    """The clustered agreement fixture must be the SAME doubles in
    both engines — every op is integer LCG arithmetic plus power-of-2
    scaling, so equality is exact, not approximate."""
    import duckdb

    from greenbuttonengine_spark.plans.wave28_queries import (
        _E_CLUSTERED,
        clustered_embeddings,
    )

    got = {
        r.vec_id: list(r.embedding)
        for r in clustered_embeddings(spark, SF).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS FROM '{SF}/embeddings.parquet'"
    )
    want = {r[0]: r[1] for r in con.execute(_E_CLUSTERED).fetchall()}
    assert got == want  # exact doubles, every vector


def test_clustered_agreement_documents_the_trustworthy_regime(spark):
    """r12 VERDICT item 4: on the clustered fixture the ANN tier must
    agree with the exact tier almost always (>= 90% same-best), and
    strictly beat the near-isotropic reading — together the two rows
    bound the miner's operating envelope."""
    qs = _queries()
    clustered = qs["eval_bitext_ann_agreement_clustered"].fn(spark, SF).collect()[0]
    iso = qs["eval_bitext_ann_agreement"].fn(spark, SF).collect()[0]
    assert clustered.n_covered == clustered.n_src
    assert clustered.agree_ppm >= 900000
    assert clustered.agree_ppm > iso.agree_ppm


def test_bipartite_kernel_bitwise_equals_triangle_plus_filter(spark):
    """r12 VERDICT item 8: the parity-bipartite exact kernel (half the
    FLOPs) must reproduce the triangle+filter form pair-for-pair,
    bit-for-bit — the precondition for swapping it under the
    oracle-green exact tier."""
    from pyspark.sql import functions as F

    from greenbuttonengine_spark.extensions import dedup
    from greenbuttonengine_spark.sources.catalog import load_table

    emb = load_table(spark, "embeddings", SF)
    even = emb.filter(F.pmod(F.col("vec_id"), F.lit(2)) == 0)
    odd = emb.filter(F.pmod(F.col("vec_id"), F.lit(2)) == 1)
    bip = {
        (r.id_a, r.id_b): r.cosine
        for r in dedup.embedding_cosine_pairs_bipartite(even, odd).collect()
    }
    tri_pairs = dedup.embedding_cosine_pairs_blocked(
        emb, threshold=float("-inf")
    ).collect()
    tri = {}
    for r in tri_pairs:
        if r.id_a % 2 != r.id_b % 2:
            s, t = (r.id_a, r.id_b) if r.id_a % 2 == 0 else (r.id_b, r.id_a)
            tri[(s, t)] = r.cosine
    assert bip == tri  # exact doubles, every cross-parity pair


def test_bipartite_kernel_property_matches_bruteforce(spark):
    """Randomized-configuration pin for the bipartite kernel: random
    side sizes (including tiny and empty), dims, block counts, and
    duplicate vectors must all reproduce the brute-force numpy cosine
    table exactly."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from greenbuttonengine_spark.extensions import dedup

    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        seed=st.integers(0, 2**31 - 1),
        n_left=st.integers(0, 20),
        n_right=st.integers(0, 20),
        dim=st.integers(2, 6),
        n_blocks=st.integers(1, 6),
    )
    def check(seed, n_left, n_right, dim, n_blocks):
        import numpy as np

        rng = np.random.RandomState(seed)
        def side(n, base):
            m = rng.randint(-3, 4, size=(n, dim)).astype(float)
            if n:
                m[np.abs(m).sum(axis=1) == 0, 0] = 1.0
                if n >= 4:
                    m[n - 1] = m[0]  # duplicate vector -> exact ties
            return [(base + i, [float(x) for x in m[i]]) for i in range(n)], m

        lrows, lm = side(n_left, 0)
        rrows, rm = side(n_right, 1000)
        schema = "vec_id long, embedding array<double>"
        left = spark.createDataFrame(lrows, schema)
        right = spark.createDataFrame(rrows, schema)
        got = {
            (r.id_a, r.id_b): r.cosine
            for r in dedup.embedding_cosine_pairs_bipartite(
                left, right, n_blocks=n_blocks
            ).collect()
        }
        want = {}
        for i in range(n_left):
            for j in range(n_right):
                acc = na = nb = 0.0
                for d in range(dim):
                    acc += lm[i, d] * rm[j, d]
                    na += lm[i, d] * lm[i, d]
                    nb += rm[j, d] * rm[j, d]
                want[(i, 1000 + j)] = acc / (na ** 0.5 * nb ** 0.5)
        assert got == want

    check()


def test_zero_norm_vectors_dropped_identically(spark):
    """r12 ADVICE item 3 (closed r14): non-finite cosines (zero-norm
    vectors -> NaN) are DROPPED from every top-k by the module-wide
    _finite_cosine rule — the expression tails (explicit filter) and
    the Arrow kernels (isfinite keep) must agree bitwise even with
    zero-norm vectors planted in BOTH corpus and queries (previously
    F.desc ranked the NaN first while the kernel dropped it)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from greenbuttonengine_spark.extensions import similarity

    def lcg(i):
        return ((i % 2147483648) * 1103515245 + 12345) % 2147483648

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        seed=st.integers(0, 2**31 - 1),
        dim=st.integers(2, 6),
        n=st.integers(10, 24),
        k=st.integers(1, 6),
    )
    def check(seed, dim, n, k):
        import numpy as np

        n_cells, n_probe = 4, 8  # probe everything: recall == brute force
        rng = np.random.RandomState(seed)
        mat = rng.randint(-4, 5, size=(n, dim)).astype(float)
        mat[np.abs(mat).sum(axis=1) == 0, 0] = 1.0
        # zero-norm plants: 2 queries (even ids) + 2 NON-SEED corpus
        # vectors (odd ids outside the n_cells smallest LCG keys —
        # zero-norm SEEDS are a different degeneracy, still o-o-c)
        odd = sorted((i for i in range(n) if i % 2 == 1), key=lambda i: (lcg(i), i))
        zero_ids = [0, 2] + odd[n_cells : n_cells + 2]
        for i in zero_ids:
            mat[i] = 0.0
        rows = [(i, [float(x) for x in mat[i]]) for i in range(n)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        corpus = df.filter("vec_id % 2 = 1")
        queries = df.filter("vec_id % 2 = 0")
        cells = similarity.FlatSeedCells(n_cells, n_probe)
        expr = {
            (r.query_id, r.neighbor_id): (r.cosine, r.rank)
            for r in similarity.ivf_topk(
                corpus, queries, similarity.SeededQuantizer(n_cells),
                k=k, n_probe=n_probe,
            ).collect()
        }
        blocked = {
            (r.query_id, r.neighbor_id): (r.cosine, r.rank)
            for r in similarity.ivf_topk_blocked(corpus, queries, cells, k=k).collect()
        }
        assert expr == blocked
        brute = {
            (r.query_id, r.neighbor_id): (r.cosine, r.rank)
            for r in similarity.cosine_topk(corpus, queries, k=k).collect()
        }
        zeros = set(zero_ids)
        for got in (expr, blocked, brute):
            assert all(np.isfinite(c) for c, _ in got.values())
            assert not any(q in zeros or nb in zeros for q, nb in got)
        # full probing -> the IVF forms ARE brute force on this corpus
        assert expr == brute

    check()


def test_knn_graph_drops_zero_norm(spark):
    """knn_graph's global window must agree with its kernel's local
    order on degenerate input: a zero-norm vector appears in NO row
    (neither side), instead of its NaN cosine ranking first."""
    import numpy as np

    from greenbuttonengine_spark.extensions import similarity

    rows = [(0, [1.0, 0.0]), (1, [0.0, 0.0]), (2, [1.0, 1.0]), (3, [-1.0, 0.5])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = similarity.knn_graph(emb, k=3).collect()
    assert got, "non-degenerate vectors must still produce rows"
    for r in got:
        assert r.vec_id != 1 and r.neighbor_id != 1
        assert np.isfinite(r.cosine)
