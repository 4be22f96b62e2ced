"""Round-13 wave 30: the hierarchical IVF retriever must equal an
independent pure-Python replay of its whole pipeline (seed selection,
cell->super map, two-level assignment, quota probing, scoring,
top-k), not just the DuckDB oracle; the recall eval must equal the
overlap recomputed from the declared queries' own outputs."""

from __future__ import annotations

import math

import pytest

pytestmark = pytest.mark.usefixtures("spark")

SF = "/root/testdata/sf0.001"
C, S, SUPER_PROBE, CELLS_PER_SUPER, K = 16, 4, 2, 2, 10


def _queries():
    import __spark_entry__

    __spark_entry__._registry()

    from greenbuttonengine_spark.plans.registry import QUERIES

    return QUERIES


def _fold_dot(a, b):
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


@pytest.fixture(scope="module")
def replay(spark):
    """Pure-Python hierarchical retrieval over sf0.001 embeddings."""
    from greenbuttonengine_spark.sources.catalog import load_table

    rows = load_table(spark, "embeddings", SF).select("vec_id", "embedding").collect()
    vecs = {r.vec_id: [float(x) for x in r.embedding] for r in rows}
    nrm = {i: math.sqrt(_fold_dot(v, v)) for i, v in vecs.items()}

    # seed selection: n smallest (LCG(vec_id), vec_id)
    def lcg(i):
        return ((i % 2147483648) * 1103515245 + 12345) % 2147483648

    order = sorted(vecs, key=lambda i: (lcg(i), i))
    seeds = order[:C]  # seed of cell c = seeds[c]
    sup = seeds[:S]

    def best(v, cand, quota):
        scored = sorted(
            ((-_fold_dot(v, vecs[seeds[c]]) / nrm[seeds[c]], c) for c in cand)
        )
        return [c for _, c in scored[:quota]]

    def best_sup(v, quota):
        scored = sorted(
            ((-_fold_dot(v, vecs[sup[s]]) / nrm[sup[s]], s) for s in range(S))
        )
        return [s for _, s in scored[:quota]]

    cell2sup = {c: best_sup(vecs[seeds[c]], 1)[0] for c in range(C)}
    cells_of = {s: [c for c in range(C) if cell2sup[c] == s] for s in range(S)}

    assign = {}
    for i, v in vecs.items():
        s = best_sup(v, 1)[0]
        assign[i] = best(v, cells_of[s], 1)[0]

    out = {}
    for qid in (i for i in vecs if i < 16):
        qv = vecs[qid]
        probed_cells = []
        for s in best_sup(qv, SUPER_PROBE):
            probed_cells += best(qv, cells_of[s], CELLS_PER_SUPER)
        cand = [
            n for n, c in assign.items() if c in probed_cells and n != qid
        ]
        scored = sorted(
            (
                (-_fold_dot(qv, vecs[n]) / (nrm[qid] * nrm[n]), n)
                for n in cand
            )
        )
        out[qid] = [
            (n, -negcos, rank + 1)
            for rank, (negcos, n) in enumerate(scored[:K])
        ]
    return out


def test_hier_matches_python_replay(spark, replay):
    got = {}
    for r in _queries()["ann_ivf_hier_topk"].fn(spark, SF).collect():
        got.setdefault(r.query_id, []).append((r.neighbor_id, r.cosine, r.rank))
    for qid in got:
        got[qid].sort(key=lambda t: t[2])
    assert set(got) == set(q for q in replay if replay[q])
    for qid, want in replay.items():
        if want:
            assert got[qid] == want  # ids, exact cosines, ranks


def test_hier_recall_eval_composes_declared_queries(spark, replay):
    qs = _queries()
    brute = {}
    for r in qs["ann_bruteforce_topk"].fn(spark, SF).collect():
        brute.setdefault(r.query_id, set()).add(r.neighbor_id)
    got = {r.query_id: r.recall_at_k
           for r in qs["eval_ann_hier_recall"].fn(spark, SF).collect()}
    assert set(got) == set(brute)
    for qid in brute:
        hits = len(brute[qid] & {n for n, _, _ in replay.get(qid, [])})
        assert got[qid] == hits / K
        assert 0.0 <= got[qid] <= 1.0


def test_hier_empty_corpus_returns_empty(spark):
    from greenbuttonengine_spark.extensions import similarity

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    queries = spark.createDataFrame(
        [(0, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    out = similarity.ivf_topk_blocked(
        empty, queries, similarity.HierSeedCells(), k=3
    )
    assert out.count() == 0
    assert out.columns == ["query_id", "neighbor_id", "cosine", "rank"]


def test_mask_invalid_supers_unit():
    """The empty-super guard in isolation: invalid columns never win
    the argmax; ties still break to the lowest VALID super; the
    all-valid fast path is an identity (r13 ADVICE)."""
    import numpy as np

    from greenbuttonengine_spark.extensions.similarity import _mask_invalid_supers

    scores = np.array([[0.1, 0.9, 0.5], [0.9, 0.9, 0.2]])
    valid = np.array([True, False, True])
    m = _mask_invalid_supers(scores, valid)
    # row 0: unmasked argmax -> invalid super 1; masked -> best valid (2)
    assert np.argmax(m, axis=1).tolist() == [2, 0]
    assert m[0, 1] == -np.inf
    assert _mask_invalid_supers(scores, np.array([True, True, True])) is scores


def test_hier_empty_super_guard_end_to_end(spark, tmp_path):
    """Degenerate corpus where super 1 owns NO cells: seed1 is
    EXACTLY 2x seed0, so supers 0 and 1 tie bitwise for every cell
    (power-of-two scaling is exact through the fold) and ties -> the
    lower super — super 1 is orphaned.
    The kernel must rank only non-empty supers — not crash on an empty
    cell list, not silently drop vectors — and DuckDB running the
    registered oracle SQL on the same corpus must agree row-for-row
    (the nesupers CTE mirrors the kernel's -inf mask)."""
    import duckdb
    import numpy as np

    n, dim = 60, 8

    def lcg(i):
        return ((i % 2147483648) * 1103515245 + 12345) % 2147483648

    order = sorted(range(n), key=lambda i: (lcg(i), i))
    rng = np.random.RandomState(7)
    vecs = rng.uniform(-1.0, 1.0, size=(n, dim)).astype(np.float32)
    vecs[order[1]] = np.float32(2.0) * vecs[order[0]]

    df = spark.createDataFrame(
        [(int(i), [float(x) for x in vecs[i]], 0) for i in range(n)],
        "vec_id long, embedding array<float>, label int",
    )
    path = str(tmp_path / "embeddings.parquet")
    df.coalesce(1).write.mode("overwrite").parquet(path)

    # precondition: the crafted corpus really orphans supers 1..3
    from greenbuttonengine_spark.extensions.similarity import seeded_centroids

    seeds = seeded_centroids(df, C)
    assert seeds[1][1] == [2.0 * x for x in seeds[0][1]]

    def fold_score(v, s, snrm):
        acc = 0.0
        for x, y in zip(v, s):
            acc += x * y
        return acc / snrm

    cell2sup = [
        max(range(S), key=lambda s: (fold_score(sv, seeds[s][1], seeds[s][2]), -s))
        for _, sv, _ in seeds
    ]
    # super 1 ties bitwise with super 0 for EVERY cell (2x scaling is
    # exact through the fold), so no cell can map to it; supers 2..3
    # are independent vectors and legitimately own cells
    assert 1 not in set(cell2sup), "crafting failed: super 1 not empty"

    spec = _queries()["ann_ivf_hier_topk"]
    got = spec.fn(spark, str(tmp_path)).toPandas()
    assert set(got["query_id"]) == set(range(16))

    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{path}/*.parquet')"
    )
    want = con.sql(spec.sql).df()
    key = ["query_id", "rank"]
    g = got.sort_values(key).reset_index(drop=True)
    w = want.sort_values(key).reset_index(drop=True)
    assert len(g) == len(w)
    assert g["neighbor_id"].tolist() == w["neighbor_id"].tolist()
    assert g["cosine"].tolist() == w["cosine"].tolist()  # bitwise


def test_hier_auto_hot_cell_valve_is_output_invariant(spark):
    """The hierarchical kernel's hot_cell_rows auto valve (r14 API
    symmetry with the flat kernel) must be bitwise output-invariant:
    threshold=1 with exact counts splits every non-empty cell;
    a sampled estimate and a never-trigger threshold also match."""
    from pyspark.sql import functions as F

    from greenbuttonengine_spark.extensions import similarity
    from greenbuttonengine_spark.sources.catalog import load_table

    emb = load_table(spark, "embeddings", SF)

    def run(**kw):
        return {
            (r.query_id, r.neighbor_id): (r.cosine, r.rank)
            for r in similarity.ivf_topk_blocked(
                emb, emb.filter(F.col("vec_id") < 16),
                similarity.HierSeedCells(C, S, SUPER_PROBE, CELLS_PER_SUPER),
                k=K,
                **kw,
            ).collect()
        }

    baseline = run()
    assert run(hot_cell_rows=1, count_sample_mod=1) == baseline
    assert run(hot_cell_rows=4, count_sample_mod=4) == baseline
    assert run(hot_cell_rows=10**9, count_sample_mod=1) == baseline
