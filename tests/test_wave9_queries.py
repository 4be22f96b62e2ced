"""Planted/invariant tests for the round-9 wave-9 batch: FIM
restructuring, soft-dedup weights, Bloom decontamination, best-of-n
curves, the context-length sweep, and PQ codes."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from greenbuttonengine_spark.plans.wave9_queries import _PQ_SUBS, _pq_centroids


def _pq_dists_expr(cents: list[list[list[int]]] | None = None) -> str:
    """Straight-line expression computing, per row, the 8x16 table of
    exact squared distances between the quantized vector (scalar
    columns ``q0..q63`` from :func:`_pq_quantized`) and the codebook,
    with every centroid integer baked in as a literal — the
    SPECIFICATION twin that the Arrow kernels (``pq_codes_pandas`` /
    ``pq_dists_pandas``, the production path) are pinned against,
    bitwise.

    The first cut carried the codebook as a per-row 1024-int literal
    array and walked it with nested transform/aggregate lambdas;
    Catalyst evaluates HOFs by invoking the lambda closure per element
    and re-materializing the literal array per row, and the 100x
    measurement (800k vectors) clocked 308s.  Unrolling to 1,024
    literal (q-c)*(q-c) terms over plain BIGINT columns runs 6.5s on
    the identical corpus, 52x (SCALING.md).  Honest mechanism note:
    the projection is wide enough that janino still refuses the fused
    doConsume (whole-stage codegen falls back to interpreted
    expression eval — visible as an ERROR CodeGenerator + disabled-
    codegen WARN in the logs); the 52x comes from flat Add/Multiply
    expression trees being ~free to interpret while lambda dispatch
    and per-row array construction are not.  Same math, same oracle.

    ``cents`` overrides the seeded codebook (wave-18's trained
    variant); default is the md5-60 random codebook.  Geometry is
    derived from the codebook shape (subs = len, dim = len of one
    centroid), so any (subs, k, dim) factorization of the vector
    width works over the same q0..q63 columns."""
    cent = cents if cents is not None else _pq_centroids()
    n_dim = len(cent[0][0])
    subs = []
    for j in range(len(cent)):
        dists = []
        for s in range(len(cent[j])):
            terms = []
            for d in range(n_dim):
                c = cent[j][s][d]
                q = f"q{j * n_dim + d}"
                terms.append(f"({q} - {c}L) * ({q} - {c}L)")
            dists.append("(" + " + ".join(terms) + ")")
        subs.append("array(" + ", ".join(dists) + ")")
    return "array(" + ", ".join(subs) + ")"


def pq_code_cols() -> list:
    """c0..c7 argmin PQ-code columns over a ``subs`` array-of-arrays
    column (the :func:`_pq_dists_expr` output)."""
    return [
        F.expr(
            f"CAST(array_position(subs[{j}], array_min(subs[{j}])) - 1"
            " AS INT)"
        ).alias(f"c{j}")
        for j in range(_PQ_SUBS)
    ]


def _md5_60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def test_code_fim_transform_spans_and_fingerprints(spark, sf_dir):
    from greenbuttonengine_spark.plans.wave9_queries import code_fim_transform

    rows = {r.doc_id: r for r in code_fim_transform(spark, sf_dir).collect()}
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("text").isNotNull())
        .collect()
    )
    assert len(rows) == len(docs)
    n_applied = 0
    for d in docs:
        r = rows[d.doc_id]
        text = d.text
        # spans always reassemble the full length
        assert r.prefix_len + r.middle_len + r.suffix_len == len(text)
        assert min(r.prefix_len, r.middle_len, r.suffix_len) >= 0
        applied = _md5_60(f"fim:{d.doc_id}") % 100 < 50 and len(text) >= 4
        assert r.fim_applied == int(applied)
        if applied:
            n_applied += 1
            a = _md5_60(f"f1:{d.doc_id}") % (len(text) + 1)
            b = a + _md5_60(f"f2:{d.doc_id}") % (len(text) - a + 1)
            psm = text[:a] + text[b:] + text[a:b]
            assert r.out_fingerprint == hashlib.md5(psm.encode()).hexdigest()
        else:
            # pass-through docs fingerprint the original text
            assert r.out_fingerprint == hashlib.md5(text.encode()).hexdigest()
    # the seeded FIM rate actually lands near 50%
    assert 0.3 < n_applied / len(docs) < 0.7


def test_sample_softdedup_weights_bounded(spark, sf_dir):
    from greenbuttonengine_spark.plans.wave9_queries import sample_softdedup

    rows = sample_softdedup(spark, sf_dir).collect()
    assert rows
    n_docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("text").isNotNull())
        .count()
    )
    assert sum(r.n_docs for r in rows) == n_docs
    for r in rows:
        # weighting never amplifies: effective mass <= 1e6 * raw mass,
        # and a source with duplicates is strictly down-weighted
        assert r.eff_tokens_ppm <= 1000000 * r.total_tokens
        assert 0 < r.mean_weight <= 1.0
        if r.n_dup_docs > 0:
            assert r.eff_tokens_ppm < 1000000 * r.total_tokens
        else:
            assert r.eff_tokens_ppm == 1000000 * r.total_tokens


def test_decontam_bloom_no_false_negatives(spark, sf_dir):
    from greenbuttonengine_spark.plans.wave9_queries import decontam_bloom

    rows = decontam_bloom(spark, sf_dir).collect()
    assert rows
    eval_ids = {
        r.doc_id
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
        if _md5_60(f"ev:{r.doc_id}") % 50 == 0
    }
    total_fp = 0
    for r in rows:
        assert r.doc_id not in eval_ids  # eval docs never scored
        assert 0 <= r.n_exact_hit <= r.n_bloom_hit <= r.n_shingles
        assert r.flagged == int(2 * r.n_bloom_hit >= r.n_shingles)
        total_fp += r.n_bloom_hit - r.n_exact_hit
    # 3 hashes into 2^18 bits over a tiny eval set: FP rate well under 5%
    total_shingles = sum(r.n_shingles for r in rows)
    assert total_fp / total_shingles < 0.05


def test_rlhf_bon_curve_monotone(spark, sf_dir):
    from greenbuttonengine_spark.plans.wave9_queries import rlhf_bon_curve

    rows = sorted(rlhf_bon_curve(spark, sf_dir).collect(), key=lambda r: r.k)
    assert [r.k for r in rows] == list(range(1, len(rows) + 1))
    assert len(rows) >= 2
    # E[max of k draws] is nondecreasing in k; pool count nonincreasing
    for a, b in zip(rows, rows[1:]):
        assert b.n_pools <= a.n_pools
        assert b.min_best >= 0 and b.max_best < 1000000
    # compare mean over the pools that survive to the deepest k
    # (running max can only grow within a pool)
    deep = rows[-1]
    assert deep.mean_best >= rows[0].sum_best / rows[0].n_pools * 0.5


def test_pack_context_sweep_accounting(spark, sf_dir):
    from greenbuttonengine_spark.plans.wave9_queries import pack_context_sweep

    rows = {r.context_len: r for r in pack_context_sweep(spark, sf_dir).collect()}
    assert set(rows) == {16, 32, 64, 128}
    n_docs = {r.n_docs for r in rows.values()}
    assert len(n_docs) == 1  # same corpus at every window
    toks = {r.total_tokens for r in rows.values()}
    assert len(toks) == 1
    for w, r in rows.items():
        # padding identity: chunks*w == tokens + pad
        assert r.total_chunks * w == r.total_tokens + r.total_pad
        assert 0 <= r.pad_frac < 1
    # a larger window can only merge chunks
    assert rows[16].total_chunks >= rows[32].total_chunks >= rows[64].total_chunks
    # docs needing a split shrink as the window grows
    assert rows[16].n_docs_split >= rows[128].n_docs_split


def test_ann_pq_codes_argmin_and_shape(spark, sf_dir):
    from greenbuttonengine_spark.plans.wave9_queries import (
        _pq_centroids,
        ann_pq_codes,
    )

    rows = ann_pq_codes(spark, sf_dir).collect()
    emb = {
        r.vec_id: list(r.embedding)
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    }
    assert len(rows) == 8 * len(emb)
    cent = _pq_centroids()
    import math

    checked = 0
    for r in rows:
        assert 0 <= r.code < 16 and 0 <= r.sub < 8 and r.dist2 >= 0
        if checked < 200:  # exact argmin replay on a slice
            q = [int(math.floor(float(u) * 4096.0)) for u in emb[r.vec_id]]
            seg = q[r.sub * 8 : r.sub * 8 + 8]
            d2 = [
                sum((a - c) ** 2 for a, c in zip(seg, cs))
                for cs in cent[r.sub]
            ]
            best = min(range(16), key=lambda s: (d2[s], s))
            assert (r.code, r.dist2) == (best, d2[best])
            checked += 1
    # codes actually use the codebook (not degenerate)
    assert len({(r.sub, r.code) for r in rows}) > 16


def test_pq_kernels_match_expression_twins(spark, sf_dir):
    """The r15 Arrow kernels (pq_codes_pandas / pq_dists_pandas) must
    be bitwise twins of the unrolled-literal expression forms
    (_pq_dists_expr / pq_code_cols, above) that specify the math and that
    the DuckDB oracles mirror — including argmin tie order (numpy
    first-min == array_position(array_min)) and the best-distance
    columns."""
    from pyspark.sql import functions as F

    from greenbuttonengine_spark.plans.wave9_queries import (
        _pq_quantized,
        pq_codes_pandas,
        pq_dists_pandas,
    )

    q = _pq_quantized(spark, sf_dir)

    expr_dists = q.select("vec_id", F.expr(_pq_dists_expr()).alias("subs"))
    want_subs = {r.vec_id: r.subs for r in expr_dists.collect()}
    got_subs = {
        r.vec_id: r.subs for r in pq_dists_pandas(q).collect()
    }
    assert got_subs == want_subs

    want_codes = {
        r.vec_id: tuple(r[f"c{j}"] for j in range(_PQ_SUBS))
        for r in expr_dists.select("vec_id", *pq_code_cols()).collect()
    }
    kern = pq_codes_pandas(q, with_dist=True).collect()
    got_codes = {
        r.vec_id: tuple(r[f"c{j}"] for j in range(_PQ_SUBS)) for r in kern
    }
    assert got_codes == want_codes
    for r in kern:
        for j in range(_PQ_SUBS):
            assert r[f"d{j}"] == want_subs[r.vec_id][j][r[f"c{j}"]]

    # several codebooks in one kernel pass, at the trained 16 x 4
    # geometry: every output must equal the expression twin of its OWN
    # codebook (a kernel that mixes the books up fails here)
    book_a = _pq_centroids(subs=16, k=16, dim=4)
    book_b = [[[-x for x in c] for c in sub] for sub in book_a]
    dists2 = pq_dists_pandas(q, {"subs_a": book_a, "subs_b": book_b}).collect()
    codes2 = {
        r.vec_id: r
        for r in pq_codes_pandas(q, {"ca": book_a, "cb": book_b}).collect()
    }
    for col, prefix, book in (("subs_a", "ca", book_a), ("subs_b", "cb", book_b)):
        want = {
            r.vec_id: r.subs
            for r in q.select(
                "vec_id", F.expr(_pq_dists_expr(book)).alias("subs")
            ).collect()
        }
        assert {r.vec_id: r[col] for r in dists2} == want
        assert set(codes2) == set(want)
        for vid, tables in want.items():
            assert tuple(codes2[vid][f"{prefix}{j}"] for j in range(16)) == tuple(
                min(range(16), key=lambda s: (t[s], s)) for t in tables
            )
