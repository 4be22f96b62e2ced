"""Deduplication operators over a document corpus.

Pair generation (each a DataFrame -> DataFrame function):

  exact_duplicates           hash-groupBy on normalized text
  ngram_jaccard_pairs_prefix exact set-Jaccard, AllPairs/PPJoin prefix
                             filter — skew-proof exact join
  minhash_lsh_pairs          MinHash signatures + banded LSH bucket
                             join — the approximate scale path
  simhash_pairs              48-bit SimHash + banded hamming candidates
  embedding_cosine_pairs_blocked
                             cosine near-dup over an embedding column

Cluster resolution (pairs are not transitively closed):

  duplicate_clusters         connected components (iterative min-label
                             propagation) -> (node, cluster_id)
  dedup_keepers              one representative (min id) per component

Admission & span detection (round 5):

  incremental_dedup          exact batch-vs-store admission verdicts
  incremental_near_dedup     LSH batch-vs-band-store NEAR-dup admission
                             (exact pre-collapse + bucket cap)
  band_buckets               shared LSH banding (in-corpus joins AND
                             the persistent band store use one hash
                             family by construction)
  repeated_substring_spans   ExactSubstr-style cross-doc verbatim
                             repeat spans (Lee et al., ACL'22)

All shingle/signature math is native Catalyst higher-order functions
(transform/aggregate/zip_with + xxhash64) — no Python in the hot path.
Skew note: a degenerate band bucket (many docs sharing a band hash)
is the classic LSH hot key; AQE skew-join splitting handles it,
``max_bucket`` hard-caps pathological buckets, and the prefix-filtered
exact join removes hot shingles from candidate generation entirely.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from ..sources.catalog import spread_scan
from .similarity import _seq_dots, _seq_norm, _stack_rows


def _shingles(col, k: int = 8, distinct: bool = True):
    """Character k-shingles, natively: one substring per offset.

    ``distinct=False`` skips the array_distinct pass — correct whenever
    the consumer is idempotent over duplicates (min-aggregation in
    MinHash: a repeated shingle cannot change any permutation's min);
    measured ~11% off the signature stage at sf0.1.  Set-semantics
    consumers (Jaccard joins) need the default."""
    raw = F.expr(
        f"transform(sequence(1, greatest(length({col}) - {k - 1}, 1)),"
        f" i -> substring({col}, i, {k}))"
    )
    return F.array_distinct(raw) if distinct else raw


def exact_duplicates(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup: fingerprint -> keeper (min id) + copy count.
    One shuffle on the fingerprint; at scale this is the cheapest pass
    and runs first to shrink the corpus for the fuzzy passes."""
    from .textstats import fingerprint_col

    return (
        docs.select(fingerprint_col(F.col(text_col)).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("keeper_id"), F.count("*").alias("n_copies"))
    )


def ngram_jaccard_pairs_prefix(
    docs: DataFrame, threshold: float = 0.8, k: int = 8,
    text_col: str = "text", id_col: str = "doc_id",
    hashed: bool = False,
) -> DataFrame:
    """Prefix-filtered exact set-similarity join (AllPairs/PPJoin
    family: Bayardo et al., WWW'07; Xiao et al., WWW'08) — the
    same exact result as the plain token join (explode shingles,
    equi-join on shingle, count co-occurrences), with the candidate
    join restricted to each document's PREFIX.

    Pigeonhole: if J(A,B) >= t then |A∩B| >= ceil(t/(1+t)·(|A|+|B|)),
    so A and B must share at least one shingle among the first
    p = n - ceil(t·n) + 1 of their shingles under ANY fixed global
    order.  Ordering by ascending global document-frequency makes the
    prefix the RAREST shingles: the frequent (hot-key) shingles land
    outside every prefix and never enter the join — the exact-result
    cure for common-boilerplate skew.  Candidates are then verified
    with one full intersection count per candidate pair.

    r15 restructure (measured at sf0.1, warm interleaved A/B;
    OPTIMIZATION_r15.md):

    * the CANDIDATE stage keys on ``xxhash64(shingle)`` longs instead
      of raw strings, under the total order (df, hash, shingle).  Any
      fixed total order keeps the pigeonhole filter complete, and a
      hash collision only ADDS candidates (verified away), so this is
      exact REGARDLESS of collisions — strings stay out of the
      df-aggregate / rank-join / self-join hot path.
    * the VERIFY stage gathers each candidate document's shingle set
      once (groupBy-collect over the candidate-pruned exploded table)
      and counts |A∩B| with one ``array_intersect`` per pair, instead
      of re-joining the exploded table twice and re-aggregating —
      three shuffles fewer.  Per-row memory is bounded by the max
      per-doc shingle count (same bound the old per-pair join row
      stream had at its groupBy).
    * together: 11.8s -> 4.8s warm median (2.4x); also the dominant
      term of the dedup_clusters / dedup_cascade /
      dedup_keeper_decisions builds.

    ``hashed=False`` (default) verifies on RAW shingles — provably
    exact, and the pytest twin of the hashed path.  ``hashed=True``
    (the declared scale path, like ``repeated_substring_spans``)
    verifies on the 64-bit shingle hashes: a wrong jaccard needs two
    DISTINCT shingles of one candidate pair to collide in 64 bits
    (P ~ K^2/2^64 per pair for K-shingle docs — vanishing), measured
    ~25% faster end-to-end (6.3s -> 4.8s: string sort/compare leaves
    the verify shuffle too).
    """
    # Per-doc DISTINCT shingle-set ARRAYS materialize at the (spread)
    # scan stage and everything derives from them (r16): the exploded
    # table the candidate stage needs is one narrow explode away, and
    # the verify stage joins the set table DIRECTLY — the r15 shape
    # checkpointed the exploded rows and re-AGGREGATED them back into
    # per-doc sets (broadcast semi + groupBy collect_list: one more
    # full exchange of the candidate docs' shingles + an agg pass).
    # Set content is identical (array_distinct before hashing, same
    # per-doc duplicates-after-collision behavior), so jaccard values
    # are unchanged.  hashed=True maps the array through xxhash64 in
    # the same projection — strings still never leave the scan stage.
    set_col = _shingles(text_col, k)
    if hashed:
        set_col = F.transform(set_col, lambda s: F.xxhash64(s))
    sets = spread_scan(docs).select(
        F.col(id_col), set_col.alias("__set")
    ).localCheckpoint(eager=False)  # feeds candidate explode + verify
    key = "__h" if hashed else "__sh"
    ex = sets.select(F.col(id_col), F.explode("__set").alias(key))
    if not hashed:
        ex = ex.withColumn("__h", F.xxhash64("__sh"))

    # global order: ascending document frequency, hash (+ shingle when
    # carried) as tiebreak — total either way for the rows that matter.
    # Document frequency (__df, count per hash) and doc size (n, count
    # per doc) are WINDOW counts over the exploded table itself: the
    # r15 shape aggregated each into its own groupBy leg and joined it
    # back, re-shuffling the exploded table once per leg (guide §2.4
    # "two operations keyed the same way share one exchange") — the
    # window form needs exactly one exchange per key (__h, then
    # id_col, where the n window rides the row_number window's
    # exchange+sort), 5 exploded-table exchanges -> 2, measured
    # 9.5s -> ~6s fresh at sf0.1.  COUNT over the full partition is
    # the same integer the groupBy computed.
    order_cols = ["__df", "__h"] + ([] if hashed else ["__sh"])
    pos = F.row_number().over(W.partitionBy(id_col).orderBy(*order_cols))
    with_pos = (
        ex.withColumn("__df", F.count("*").over(W.partitionBy("__h")))
        .withColumn("n", F.count("*").over(W.partitionBy(id_col)))
        .withColumn("__pos", pos)
        # prefix length for Jaccard: n - ceil(t*n) + 1
        .withColumn("__plen", F.col("n") - F.ceil(F.lit(threshold) * F.col("n")) + 1)
    )
    prefix = with_pos.filter(F.col("__pos") <= F.col("__plen")).select(
        id_col, "__h", "__pos", "n"
    )

    # Candidate join with PPJoin's POSITIONAL filter: at a prefix match
    # in (global-rarity) position pa/pb, the remaining possible overlap
    # is at most min(na-pa, nb-pb)+1 (both suffixes follow the same
    # global order), and J >= t requires overlap >= ceil(t/(1+t)·
    # (na+nb)).  Rows failing that bound can't come from a qualifying
    # pair — exact pruning that collapses the candidate set on corpora
    # whose "rare" shingles still repeat across documents.  (For a
    # truly qualifying pair the shared PREFIX TOKEN's own row passes
    # the bound, so hash-only matching here never loses a pair.)
    a, b = prefix.alias("a"), prefix.alias("b")
    min_overlap = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (F.col("a.n") + F.col("b.n"))
    )
    pos_ok = (
        F.least(
            F.col("a.n") - F.col("a.__pos"), F.col("b.n") - F.col("b.__pos")
        )
        + 1
        >= min_overlap
    )
    cand = (
        a.join(
            b,
            (F.col("a.__h") == F.col("b.__h"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            & pos_ok,
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
        # feeds both the id-prune and the verify join
        .localCheckpoint(eager=False)
    )

    # verify: one full intersection count per candidate pair.  The
    # CHECKPOINTED per-doc set table is pruned to documents appearing
    # in ANY candidate (broadcast semi-join on the small candidate-id
    # set) and |A∩B| computed with array_intersect per pair — no
    # per-pair row stream, and since r16 no re-aggregation either:
    # the r15 shape rebuilt each candidate doc's set from the exploded
    # rows (groupBy collect_list = one more full exchange of the
    # candidate docs' shingles).  Set sizes read off the materialized
    # arrays, the same integers the exploded count produced.
    cand_ids = (
        cand.select(F.col("id_a").alias(id_col))
        .unionByName(cand.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    arrs = sets.join(F.broadcast(cand_ids), id_col, "left_semi").select(
        F.col(id_col),
        F.col("__set"),
        F.size("__set").cast("long").alias("n"),
    )
    aa = arrs.select(
        F.col(id_col).alias("id_a"), F.col("__set").alias("__sa"), F.col("n").alias("na")
    )
    bb = arrs.select(
        F.col(id_col).alias("id_b"), F.col("__set").alias("__sb"), F.col("n").alias("nb")
    )
    inter = cand.join(aa, "id_a").join(bb, "id_b").withColumn(
        "i", F.size(F.array_intersect("__sa", "__sb")).cast("long")
    )
    jac = F.col("i").cast("double") / (
        F.col("na") + F.col("nb") - F.col("i")
    ).cast("double")
    return inter.select("id_a", "id_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


# ---------------------------------------------------------------------------
# MinHash hash families.  The MinHash/LSH pipeline below is written once;
# ``seeded`` picks the leaf hash family, the convention simhash_* share:
#
#   seeded=False  xxhash64 shingle hash + xxhash64 permutations + xxhash64
#                 band keys — the production family.  The streaming
#                 admission store persists these band hashes, so this
#                 bucket function must not change shape
#                 (tests/test_extensions.py pins its values).
#   seeded=True   the r6 "integer-LCG" trick extended to string hashing:
#                 md5 is the one string hash BOTH engines expose, and
#                 conv(substring(md5(s),1,15),16,10) == DuckDB
#                 CAST(concat('0x', substr(md5(s),1,15)) AS BIGINT)
#                 bit-for-bit; literal-LCG permutations and weighted-sum
#                 band keys make every value DuckDB-reproducible
#                 (minhash_seeded_pair_ctes emits the matching oracle).
#
# Both families run the identical plan shape.
# ---------------------------------------------------------------------------

_MH_P = (1 << 31) - 1  # Mersenne prime: permutation modulus
_BAND_BASE = 1021  # < 2^10 so m * base^3 stays under 2^61 (ANSI-safe)


def md5_hash60(col):
    """60-bit integer string hash computed identically by Spark and
    DuckDB (see block comment above).  Used where many bits are drawn
    from one hash (seeded SimHash takes 48)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def md5_hash32(col):
    """32-bit variant: MinHash reduces h0 mod 2^31-1 anyway, so the
    extra hex digits of the 60-bit form buy nothing, and conv over 8
    hex chars is measurably cheaper (~0.5s on the sf0.1 signature
    stage).  ~500 colliding shingle pairs per 1.5M shingles merely
    perturb the Jaccard estimate IDENTICALLY in both engines."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def lcg_perm_params(n: int, seed: int = 0xC0FFEE) -> list[tuple[int, int]]:
    """n (a, b) permutation pairs from a 64-bit LCG — plain Python ints
    embedded as literals in BOTH the Spark plan and the oracle SQL, so
    the permutation family is engine-independent by construction."""
    a_mul, c_add, m = 6364136223846793005, 1442695040888963407, 1 << 64
    x = seed
    out = []
    for _ in range(n):
        x = (a_mul * x + c_add) % m
        a = 1 + (x >> 33) % (_MH_P - 1)
        x = (a_mul * x + c_add) % m
        b = (x >> 33) % _MH_P
        out.append((int(a), int(b)))
    return out


def minhash_signatures(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    num_perm: int = 32, k: int = 8, seeded: bool = False,
) -> DataFrame:
    """(id, sig array<long>) via explode + codegen'd min aggregates.

    Two-level hashing: each shingle is string-hashed ONCE (h0), then
    the num_perm permutations hash the resulting long — fixed-width
    work per permutation regardless of shingle size.  The explode
    never shuffles raw shingles: partial min() aggregation collapses
    them map-side, so only num_perm longs per (doc, partition) cross
    the wire. Measured ~2x the HOF-fold form at sf0.1 and scales the
    same way (one narrow shuffle keyed by id).

    ``seeded=False``: h0 = xxhash64(shingle), permutation j =
    xxhash64(h0, j).  ``seeded=True``: h0 = md5_hash32(shingle) mod
    2^31-1, permutation j = (a_j*h0 + b_j) mod 2^31-1 with literal-LCG
    (a_j, b_j); a*h+b < 2^62 for a,h < 2^31, so ANSI long arithmetic
    cannot throw.

    The scan is spread first (``spread_scan``): the per-shingle hash
    explode is the operator's hot loop and a single-file input caps it
    at one core — measured 5.45s -> 1.75s at sf0.1/local[32] on the
    seeded family (r15).  The whole num_perm-way aggregation builds as
    ONE parsed expression (array of min()s — r16 driver-overhead cut;
    same partial aggregation, the array projection folds into the
    aggregate; integer literals below 2^31 parse to the same
    IntegerType F.lit produced)."""
    if seeded:
        h0 = md5_hash32(F.col("__sh")) % F.lit(_MH_P)
        mins = ", ".join(
            f"min(({a} * h0 + {b}) % {_MH_P})" for a, b in lcg_perm_params(num_perm)
        )
    else:
        h0 = F.xxhash64("__sh")
        mins = ", ".join(f"min(xxhash64(h0, {j}))" for j in range(num_perm))
    ex = spread_scan(docs).select(
        F.col(id_col), F.explode(_shingles(text_col, k, distinct=False)).alias("__sh")
    ).select(F.col(id_col), h0.alias("h0"))
    return ex.groupBy(id_col).agg(F.expr(f"array({mins})").alias("sig"))


def band_buckets(
    sig: DataFrame, num_perm: int = 32, bands: int = 8, id_col: str = "doc_id",
    seeded: bool = False,
) -> DataFrame:
    """(id, band_idx, band_hash) LSH bucket rows from MinHash
    signatures.  Scan-stage projection + explode — the shape that
    feeds both the in-corpus self-join (``minhash_lsh_pairs``) and the
    persistent band store of the streaming admission path
    (``incremental_near_dedup``), so batch and stream agree on the
    bucket function by construction.

    ``seeded=False``: band_hash = xxhash64 over the band's signature
    slice.  ``seeded=True``: the positional weighted sum
    sum_r sig[band*rows+r] * BASE^r — not injective, but both engines
    compute the identical value, and the verify stage filters false
    bucket collisions anyway (exactly as with the xxhash64 band hash);
    weights stay < 2^31 (1021^3), so the integer literals parse to the
    same IntegerType F.lit produced."""
    rows = num_perm // bands

    def band_hash(bi: int) -> str:
        cells = [f"sig[{bi * rows + r}]" for r in range(rows)]
        if seeded:
            return " + ".join(f"{c} * {_BAND_BASE**r}" for r, c in enumerate(cells))
        return f"xxhash64({', '.join(cells)})"

    # one parsed expression for all bands (r16 driver-overhead cut)
    band_structs = ", ".join(
        f"named_struct('band_idx', {bi}, 'band_hash', {band_hash(bi)})"
        for bi in range(bands)
    )
    return sig.select(
        F.col(id_col), F.expr(f"explode(array({band_structs}))").alias("b")
    ).select(
        id_col, F.col("b.band_idx").alias("band_idx"), F.col("b.band_hash").alias("band_hash")
    )


def _cap_buckets(buckets: DataFrame, max_bucket: int) -> DataFrame:
    """Drop LSH buckets holding more than ``max_bucket`` members —
    the hot-key guard shared by the in-corpus self-join and both
    sides of the admission probe (one map-side-combined count, then a
    left-semi filter; the hot rows are scanned once, never paired)."""
    sizes = buckets.groupBy("band_idx", "band_hash").agg(F.count("*").alias("bn"))
    return buckets.join(
        sizes.filter(F.col("bn") <= max_bucket).select("band_idx", "band_hash"),
        ["band_idx", "band_hash"],
        "left_semi",
    )


def _bucket_pairs(buckets: DataFrame, key: str, id_col: str) -> DataFrame:
    """Distinct (id_a < id_b) pairs sharing a (band_idx, ``key``)
    bucket: the band-key self-equi-join every banded LSH family
    (MinHash, SimHash, the admission batch) generates candidates with
    — a shuffle on the band key, never all-pairs."""
    a, b = buckets.alias("a"), buckets.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col(f"a.{key}") == F.col(f"b.{key}"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def _verify_pairs(
    cand: DataFrame, sig: DataFrame, sig_col: str, id_col: str, score, keep
) -> DataFrame:
    """The verify tail of a banded LSH family: join both signature
    sides (``{sig_col}_a`` / ``{sig_col}_b``) onto the candidate pairs,
    emit (id_a, id_b, score) and keep the rows passing ``keep``."""
    sa = sig.select(F.col(id_col).alias("id_a"), F.col(sig_col).alias(f"{sig_col}_a"))
    sb = sig.select(F.col(id_col).alias("id_b"), F.col(sig_col).alias(f"{sig_col}_b"))
    return (
        cand.join(sa, "id_a").join(sb, "id_b")
        .select("id_a", "id_b", score)
        .filter(keep)
    )


def _sig_agreement(num_perm: int):
    """Estimated Jaccard = fraction of agreeing MinHash components
    (expects sig_a / sig_b array columns in scope)."""
    return (
        F.aggregate(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: (x == y).cast("int")),
            F.lit(0),
            lambda acc, v: acc + v,
        ).cast("double")
        / F.lit(float(num_perm))
    )


def minhash_lsh_candidates(
    docs: DataFrame,
    num_perm: int = 32,
    bands: int = 8,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int = 10000,
    seeded: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """(signatures, candidate pairs): the front half of
    :func:`minhash_lsh_pairs`, exposed (r16) for consumers that need
    the CANDIDATE set itself (eval_split_leakage: its leakage
    definition — and its oracle — is band collision, so a signature-
    agreement verify at threshold 0.0 would join both signature sides
    only to keep every row).

    Signatures come back checkpointed: they feed four branches
    (buckets, bucket sizes, both verify sides).
    localCheckpoint(eager=False) materializes them once on first use
    and — unlike DataFrame.persist, whose CacheManager entry lives
    until an explicit unpersist — its blocks are auto-freed by the
    ContextCleaner when the result DataFrame is garbage-collected, so
    repeated calls in one session don't pin executor memory.  On a
    multi-node cluster note localCheckpoint truncates lineage: an
    executor loss fails the job instead of recomputing."""
    sig = minhash_signatures(
        docs, text_col, id_col, num_perm, k, seeded=seeded
    ).localCheckpoint(eager=False)
    buckets = band_buckets(sig, num_perm=num_perm, bands=bands, id_col=id_col, seeded=seeded)
    buckets = _cap_buckets(buckets, max_bucket)  # hot-key guard
    return sig, _bucket_pairs(buckets, "band_hash", id_col)


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    num_perm: int = 32,
    bands: int = 8,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int = 10000,
    seeded: bool = False,
) -> DataFrame:
    """MinHash + banded LSH near-dup candidates, verified by estimated
    Jaccard (signature agreement rate) >= threshold.

    Scale shape: signatures are one narrow projection; candidates come
    from a self-equi-join on (band_idx, band_hash) — a shuffle on the
    band key, never all-pairs.  rows/bands chosen so P(candidate) at
    the threshold is high (8 bands x 4 rows, s-curve midpoint ~0.72).
    ``seeded=True`` makes every value DuckDB-reproducible
    (``minhash_seeded_oracle_sql`` emits the matching oracle from the
    same literals).
    """
    sig, cand = minhash_lsh_candidates(
        docs, num_perm, bands, k, text_col, id_col, max_bucket, seeded=seeded
    )
    return _verify_pairs(
        cand, sig, "sig", id_col,
        _sig_agreement(num_perm).alias("est_jaccard"),
        F.col("est_jaccard") >= threshold,
    )


def minhash_seeded_pair_ctes(
    threshold: float = 0.8, num_perm: int = 32, bands: int = 8, k: int = 8,
    max_bucket: int = 10000,
) -> str:
    """The shared CTE chain (no WITH keyword) ending in
    ``mh_pairs(id_a, id_b, est_jaccard)`` — used by the pair oracle and
    by downstream compositions (LSH connected components)."""
    rows = num_perm // bands
    params = lcg_perm_params(num_perm)
    values = ", ".join(
        f"({j}, {a}, {b}, {_BAND_BASE ** (j % rows)}, {j // rows})"
        for j, (a, b) in enumerate(params)
    )
    return f"""params(j, a, b, w, band) AS (VALUES {values}),
    ex AS (
        SELECT DISTINCT doc_id,
               CAST(concat('0x', substr(md5(sh), 1, 8)) AS BIGINT)
                   % {_MH_P} AS h0
        FROM (
            SELECT doc_id, unnest([substring(text, i, {k})
                       for i in generate_series(1,
                           greatest(length(text) - {k - 1}, 1))]) AS sh
            FROM documents
        )
    ),
    sigv AS (
        SELECT doc_id, j, MIN((a * h0 + b) % {_MH_P}) AS m
        FROM ex CROSS JOIN params GROUP BY doc_id, j
    ),
    bandv AS (
        SELECT s.doc_id, p.band AS band_idx, SUM(s.m * p.w) AS band_hash
        FROM sigv s JOIN params p USING (j)
        GROUP BY s.doc_id, p.band
    ),
    capped AS (
        SELECT * FROM bandv
        QUALIFY COUNT(*) OVER (PARTITION BY band_idx, band_hash)
                    <= {max_bucket}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM capped a
        JOIN capped b ON a.band_idx = b.band_idx
                     AND a.band_hash = b.band_hash
                     AND a.doc_id < b.doc_id
    ),
    est AS (
        SELECT c.id_a, c.id_b,
               CAST(SUM(CASE WHEN va.m = vb.m THEN 1 ELSE 0 END)
                    AS DOUBLE) / {num_perm}.0 AS est_jaccard
        FROM cand c
        JOIN sigv va ON va.doc_id = c.id_a
        JOIN sigv vb ON vb.doc_id = c.id_b AND vb.j = va.j
        GROUP BY c.id_a, c.id_b
    ),
    mh_pairs AS (
        SELECT id_a, id_b, est_jaccard FROM est
        WHERE est_jaccard >= {threshold}
    )"""


def minhash_seeded_oracle_sql(
    threshold: float = 0.8, num_perm: int = 32, bands: int = 8, k: int = 8,
    max_bucket: int = 10000,
) -> str:
    """DuckDB oracle for ``minhash_lsh_pairs(seeded=True)`` generated from
    the SAME LCG literals the Spark plan embeds."""
    ctes = minhash_seeded_pair_ctes(threshold, num_perm, bands, k, max_bucket)
    return f"""
    WITH {ctes}
    SELECT id_a, id_b, est_jaccard FROM mh_pairs
    """


def minhash_clusters_seeded_oracle_sql(
    threshold: float = 0.8, num_perm: int = 32, bands: int = 8, k: int = 8,
    max_bucket: int = 10000,
) -> str:
    """DuckDB oracle for connected components over the seeded LSH
    pairs (``dedup_clusters_lsh``): recursive-CTE transitive closure,
    cluster id = min node id — the same closure the exact
    ``dedup_clusters`` oracle uses, over the LSH candidate edges."""
    ctes = minhash_seeded_pair_ctes(threshold, num_perm, bands, k, max_bucket)
    return f"""
    WITH RECURSIVE {ctes},
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM mh_pairs
        UNION SELECT id_b, id_a FROM mh_pairs
    ),
    labels(node, label) AS (
        SELECT DISTINCT src, src FROM edges
        UNION
        SELECT e.src, l.label FROM edges e JOIN labels l ON l.node = e.dst
    )
    SELECT CAST(node AS BIGINT) AS node, CAST(MIN(label) AS BIGINT) AS cluster_id
    FROM labels GROUP BY node
    """


def incremental_near_oracle_sql(
    threshold: float = 0.7, num_perm: int = 32, bands: int = 8, k: int = 8,
    max_bucket: int = 10000, batch_mod: int = 5, batch_rem: int = 4,
) -> str:
    """DuckDB oracle for the SEEDED ``incremental_near_dedup`` batch
    form (``dedup_incremental_near``): the minhash_seeded_pair_ctes
    hash family applied to the batch/store split, then the exact
    pre-collapse, probe-verify, best-match election, batch-internal
    pair CC (recursive transitive closure, min-id keeper) and the
    four-way verdict union — each stage a literal transcription of the
    Spark stages in :func:`incremental_near_dedup`."""
    rows = num_perm // bands
    params = lcg_perm_params(num_perm)
    values = ", ".join(
        f"({j}, {a}, {b}, {_BAND_BASE ** (j % rows)}, {j // rows})"
        for j, (a, b) in enumerate(params)
    )

    def sig_chain(prefix: str, src: str) -> str:
        return f"""{prefix}ex AS (
        SELECT DISTINCT doc_id,
               CAST(concat('0x', substr(md5(sh), 1, 8)) AS BIGINT)
                   % {_MH_P} AS h0
        FROM (
            SELECT doc_id, unnest([substring(text, i, {k})
                       for i in generate_series(1,
                           greatest(length(text) - {k - 1}, 1))]) AS sh
            FROM {src}
        )
    ),
    {prefix}sig AS MATERIALIZED (
        SELECT doc_id, j, MIN((a * h0 + b) % {_MH_P}) AS m
        FROM {prefix}ex CROSS JOIN params GROUP BY doc_id, j
    ),
    {prefix}band AS MATERIALIZED (
        SELECT s.doc_id, p.band AS band_idx, SUM(s.m * p.w) AS band_hash
        FROM {prefix}sig s JOIN params p USING (j)
        GROUP BY s.doc_id, p.band
    )"""

    agree = (
        f"CAST(SUM(CASE WHEN va.m = vb.m THEN 1 ELSE 0 END) AS DOUBLE)"
        f" / {num_perm}.0"
    )
    return rf"""
    WITH RECURSIVE params(j, a, b, w, band) AS (VALUES {values}),
    docs_b AS (SELECT doc_id, text FROM documents
               WHERE doc_id % {batch_mod} = {batch_rem}),
    docs_c AS (SELECT doc_id, text FROM documents
               WHERE doc_id % {batch_mod} <> {batch_rem}),
    fpr AS MATERIALIZED (
        SELECT doc_id, fp,
               ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        FROM (SELECT doc_id,
                     md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))
                         AS fp
              FROM docs_b)
    ),
    keepers AS MATERIALIZED (SELECT doc_id, fp FROM fpr WHERE rn = 1),
    exact_dups AS (
        SELECT f.doc_id, kk.doc_id AS matched_id
        FROM fpr f JOIN keepers kk USING (fp) WHERE f.rn > 1
    ),
    docs_bk AS (SELECT d.doc_id, d.text
                FROM docs_b d JOIN keepers USING (doc_id)),
    {sig_chain("b", "docs_bk")},
    {sig_chain("c", "docs_c")},
    bcap AS MATERIALIZED (
        SELECT * FROM bband
        QUALIFY COUNT(*) OVER (PARTITION BY band_idx, band_hash)
                    <= {max_bucket}
    ),
    sb AS (
        SELECT * FROM (
            SELECT c.doc_id AS matched_id, c.band_idx, c.band_hash
            FROM cband c
            WHERE EXISTS (SELECT 1 FROM bcap b
                          WHERE b.band_idx = c.band_idx
                            AND b.band_hash = c.band_hash)
        )
        QUALIFY COUNT(*) OVER (PARTITION BY band_idx, band_hash)
                    <= {max_bucket}
    ),
    cand AS (
        SELECT DISTINCT b.doc_id, s.matched_id
        FROM bcap b JOIN sb s ON s.band_idx = b.band_idx
                            AND s.band_hash = b.band_hash
    ),
    ver AS MATERIALIZED (
        SELECT c.doc_id, c.matched_id, {agree} AS est_jaccard
        FROM cand c
        JOIN bsig va ON va.doc_id = c.doc_id
        JOIN csig vb ON vb.doc_id = c.matched_id AND vb.j = va.j
        GROUP BY c.doc_id, c.matched_id
        HAVING {agree} >= {threshold}
    ),
    corpus_matches AS MATERIALIZED (
        SELECT doc_id, matched_id, est_jaccard FROM (
            SELECT v.*, ROW_NUMBER() OVER (
                PARTITION BY doc_id
                ORDER BY est_jaccard DESC, matched_id) AS rn
            FROM ver v
        ) WHERE rn = 1
    ),
    surv AS (
        SELECT doc_id FROM keepers
        WHERE doc_id NOT IN (SELECT doc_id FROM corpus_matches)
    ),
    survband AS (
        SELECT * FROM (SELECT b.* FROM bband b JOIN surv USING (doc_id))
        QUALIFY COUNT(*) OVER (PARTITION BY band_idx, band_hash)
                    <= {max_bucket}
    ),
    pair_cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM survband a
        JOIN survband b ON a.band_idx = b.band_idx
                       AND a.band_hash = b.band_hash
                       AND a.doc_id < b.doc_id
    ),
    pairs AS MATERIALIZED (
        SELECT id_a, id_b FROM (
            SELECT c.id_a, c.id_b, {agree} AS ej
            FROM pair_cand c
            JOIN bsig va ON va.doc_id = c.id_a
            JOIN bsig vb ON vb.doc_id = c.id_b AND vb.j = va.j
            GROUP BY c.id_a, c.id_b
        ) WHERE ej >= {threshold}
    ),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION SELECT id_b, id_a FROM pairs
    ),
    labels(node, label) AS (
        SELECT DISTINCT src, src FROM edges
        UNION
        SELECT e.src, l.label FROM edges e JOIN labels l ON l.node = e.dst
    ),
    dup_batch AS (
        SELECT node AS doc_id, MIN(label) AS matched_id
        FROM labels GROUP BY node HAVING node <> MIN(label)
    ),
    accepted AS (
        SELECT DISTINCT doc_id FROM bsig
        WHERE doc_id NOT IN (SELECT doc_id FROM corpus_matches)
          AND doc_id NOT IN (SELECT doc_id FROM dup_batch)
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           'dup_in_batch' AS verdict,
           CAST(matched_id AS BIGINT) AS matched_id,
           CAST(1.0 AS DOUBLE) AS est_jaccard
    FROM exact_dups
    UNION ALL
    SELECT doc_id, 'near_dup_of_corpus', matched_id,
           CAST(est_jaccard AS DOUBLE)
    FROM corpus_matches
    UNION ALL
    SELECT doc_id, 'dup_in_batch', matched_id, NULL FROM dup_batch
    UNION ALL
    SELECT doc_id, 'accept', NULL, NULL FROM accepted
    """


def simhash_signatures(
    docs: DataFrame,
    bits: int = 48,
    token_pattern: str = r"\s+",
    text_col: str = "text",
    id_col: str = "doc_id",
    seeded: bool = False,
) -> DataFrame:
    """(id, sh) SimHash via explode + codegen'd sum aggregates — the
    ``minhash_signatures`` shape applied to SimHash.

    A per-row HOF form evaluates hash_fn(token) once PER
    BIT (48 vote expressions, each re-hashing every token; Catalyst
    does not CSE across interpreted HOF lambdas) — cheap with xxhash64,
    but 15.2s at sf0.1 with the seeded md5 hash.  Here each token is
    hashed ONCE; the 48 bit votes are integer sums in one map-side-
    combined hash aggregate (2.1s, identical results).  NULL-text rows
    drop at explode (none exist in the corpus; the oracle's unnest
    drops them identically)."""
    if seeded and bits > 60:
        raise ValueError("seeded simhash draws bits from a 60-bit hash")
    hash_fn = md5_hash60 if seeded else F.xxhash64
    ex = spread_scan(docs).select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.col(text_col)), token_pattern)).alias("__t"),
    ).select(F.col(id_col), hash_fn(F.col("__t")).alias("h"))
    votes = [
        F.sum(
            F.when(F.shiftright("h", b).bitwiseAND(F.lit(1)) == 1, F.lit(1))
            .otherwise(F.lit(-1))
        ).alias(f"__v{b}")
        for b in range(bits)
    ]
    agg = ex.groupBy(id_col).agg(*votes)
    out = F.lit(0).cast("long")
    for b in range(bits):
        out = out + F.when(F.col(f"__v{b}") > 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return agg.select(F.col(id_col), out.alias("sh"))


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    bits: int = 48,
    bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    seeded: bool = False,
) -> DataFrame:
    """SimHash near-dup: banded candidate generation (pigeonhole: any
    pair within max_hamming shares at least one of `bands` exact bands
    when bands > max_hamming), then exact popcount verify.
    ``seeded=True`` makes every value DuckDB-reproducible
    (``simhash_seeded_oracle_sql`` emits the matching oracle)."""
    width = bits // bands
    mask = (1 << width) - 1
    sh = simhash_signatures(
        docs, bits=bits, text_col=text_col, id_col=id_col, seeded=seeded
    )
    # see minhash_lsh_candidates: auto-freed once consumers are GC'd
    sh = sh.localCheckpoint(eager=False)
    band_arr = F.array(
        *[
            F.struct(
                F.lit(bi).alias("band_idx"),
                F.shiftright(F.col("sh"), bi * width).bitwiseAND(F.lit(mask)).alias("band_val"),
            )
            for bi in range(bands)
        ]
    )
    buckets = sh.select(id_col, F.explode(band_arr).alias("b")).select(
        id_col, "b.band_idx", "b.band_val"
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return _verify_pairs(
        _bucket_pairs(buckets, "band_val", id_col), sh, "sh", id_col,
        hamming.cast("int").alias("hamming"),
        F.col("hamming") <= max_hamming,
    )


def simhash_seeded_oracle_sql(
    max_hamming: int = 3, bits: int = 48, bands: int = 4
) -> str:
    """DuckDB oracle for ``simhash_pairs(seeded=True)``: the same
    md5-derived token hash, sign-of-vote bits, pigeonhole bands, and
    popcount verify, all in integer arithmetic."""
    width = bits // bands
    mask = (1 << width) - 1
    return f"""
    WITH th AS (
        SELECT doc_id,
               CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT) AS h
        FROM (
            SELECT doc_id,
                   unnest(regexp_split_to_array(trim(text), '\\s+')) AS t
            FROM documents
        )
    ),
    votes AS (
        SELECT doc_id, g.b AS b,
               SUM(CASE WHEN (h >> g.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
        FROM th CROSS JOIN generate_series(0, {bits - 1}) AS g(b)
        GROUP BY doc_id, g.b
    ),
    sh AS (
        SELECT doc_id,
               SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << b)
                        ELSE 0 END) AS sh
        FROM votes GROUP BY doc_id
    ),
    bandv AS (
        SELECT doc_id, g.bi AS band_idx,
               (sh >> ({width} * g.bi)) & {mask} AS band_val
        FROM sh CROSS JOIN generate_series(0, {bands - 1}) AS g(bi)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bandv a
        JOIN bandv b ON a.band_idx = b.band_idx
                    AND a.band_val = b.band_val
                    AND a.doc_id < b.doc_id
    )
    SELECT c.id_a, c.id_b,
           CAST(bit_count(xor(sa.sh, sb.sh)) AS INTEGER) AS hamming
    FROM cand c
    JOIN sh sa ON sa.doc_id = c.id_a
    JOIN sh sb ON sb.doc_id = c.id_b
    WHERE bit_count(xor(sa.sh, sb.sh)) <= {max_hamming}
    """


def _with_norm(emb: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    """(id, double vector, precomputed L2 norm).  Norms are computed
    once per ROW here; joining first and evaluating sqrt-of-squares in
    the post-join projection would recompute each row's norm once per
    emitted PAIR.  cosine = _dot("a.v","b.v") / (a.__norm * b.__norm)
    is arithmetically identical to the inline form (same float ops on
    the same values) — only the evaluation count changes."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    norm = F.sqrt(
        F.aggregate(F.transform(v, lambda x: x * x), F.lit(0.0), lambda a, x: a + x)
    )
    return emb.select(F.col(id_col), v.alias("v"), norm.alias("__norm"))


def _dot(a_col: str, b_col: str):
    return F.aggregate(
        F.zip_with(F.col(a_col), F.col(b_col), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def embedding_cosine_pairs_blocked(
    emb: DataFrame,
    threshold: float = 0.3,
    n_blocks: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine pairs >= threshold via a triangle block join +
    Arrow-batched vectorized verify — bit-identical to the all-pairs
    cross join it replaces.

    Exact pair enumeration at a low threshold is inherently
    Theta(n^2 * d) FLOPs — no engine avoids that; what an engine CAN
    fix is how the work is laid out.  The BNLJ all-pairs form streams
    every row past every other row one pair at a time through an
    interpreted array fold.  This form instead:

    * assigns each vector to one of B blocks (hash of id),
    * replicates each vector to the B triangle tasks (i,j), i<=j, that
      involve its block (one ``explode`` -> shuffle of O(n*B) rows,
      each task receiving ~2n/B vectors),
    * computes each task's block-pair cosine matrix in ONE Arrow batch
      (``applyInPandas``) with a k-ordered numpy accumulation, so the
      double adds happen in exactly the fold order of the Catalyst/
      DuckDB expression — bitwise-equal cosines, verified by pytest
      against the BNLJ form and by the DuckDB oracle.

    Every pair is computed exactly once: a cross-block pair {x,y}
    exists only in task (block(x), block(y)); a same-block pair only
    in the diagonal task.  Tasks are uniformly sized (hash blocks), so
    the quadratic compute spreads evenly across B*(B+1)/2 tasks with
    no hot key; B is chosen so one task's two blocks (~2n/B vectors)
    fit an executor's Arrow batch — the standard memory/replication
    trade (comm O(n*B), per-task compute O((n/B)^2 * d)).  Truly
    subquadratic needs the approximate paths (:func:`semantic_dedup_pairs`,
    ``similarity.lsh_topk``), which trade recall for it.
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

    def _pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        ti, tj = int(pdf["ti"].iloc[0]), int(pdf["tj"].iloc[0])
        ids = pdf["vid"].to_numpy()
        mat = _stack_rows(pdf["vec"])
        blk = pdf["blk"].to_numpy()
        if ti == tj:
            ia = ib = ids
            norms = _seq_norm(mat)
            cos = _seq_dots(mat, mat) / np.outer(norms, norms)
            r, c = np.where(cos >= threshold)
            keep = ia[r] < ib[c]
            r, c = r[keep], c[keep]
            out_a, out_b, out_c = ia[r], ib[c], cos[r, c]
        else:
            am = blk == ti
            a_ids, b_ids = ids[am], ids[~am]
            a_mat, b_mat = mat[am], mat[~am]
            if len(a_ids) == 0 or len(b_ids) == 0:
                return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
                    {"id_a": "int64", "id_b": "int64", "cosine": "float64"}
                )
            cos = _seq_dots(a_mat, b_mat) / np.outer(_seq_norm(a_mat), _seq_norm(b_mat))
            r, c = np.where(cos >= threshold)
            out_c = cos[r, c]
            ra, rb = a_ids[r], b_ids[c]
            out_a, out_b = np.minimum(ra, rb), np.maximum(ra, rb)
        return pd.DataFrame(
            {"id_a": out_a.astype("int64"), "id_b": out_b.astype("int64"),
             "cosine": out_c}
        )

    return exploded.groupBy("ti", "tj").applyInPandas(
        _pairs, "id_a long, id_b long, cosine double"
    )


def embedding_cosine_pairs_bipartite(
    left: DataFrame,
    right: DataFrame,
    n_blocks: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine for EVERY (left, right) pair — the bipartite
    variant of :func:`embedding_cosine_pairs_blocked` for two disjoint
    sides (e.g. the bitext miner's src/tgt parity split).

    The triangle kernel run over left+right computes same-side pairs
    only to drop them — a 2x FLOP overhead when only cross pairs are
    wanted.  Here each left block meets each right block exactly once
    (B x B tasks; each row replicated B times, the same O(n*B) shuffle
    and fits-one-Arrow-batch task-size contract as the triangle form),
    so compute is exactly |left| x |right| cosines — half the
    same-corpus triangle at an even split.  The k-ordered numpy
    accumulation keeps every cosine bitwise-equal to the Catalyst /
    DuckDB fold, so downstream oracles are unchanged; pytest pins this
    kernel pair-for-pair, bit-for-bit against triangle+filter.

    Output: (id_a = left id, id_b = right id, cosine), all pairs —
    callers threshold/rank downstream.  Sides must be disjoint (no
    self-mask is applied).
    """
    import numpy as np
    import pandas as pd

    g = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int")
    other = F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))).alias
    lex = left.select(
        F.col(id_col).alias("lid"), F.col(vec_col).alias("lvec"), g.alias("bi")
    ).select("lid", "lvec", "bi", other("bj"))
    rex = right.select(
        F.col(id_col).alias("rid"), F.col(vec_col).alias("rvec"), g.alias("bj")
    ).select("rid", "rvec", "bj", other("bi"))

    def _score(key, lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if not len(lpdf) or not len(rpdf):
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cosine": "float64"}
            )
        lm = _stack_rows(lpdf["lvec"])
        rm = _stack_rows(rpdf["rvec"])
        cos = _seq_dots(lm, rm) / np.outer(_seq_norm(lm), _seq_norm(rm))
        nl, nr = lm.shape[0], rm.shape[0]
        return pd.DataFrame(
            {
                "id_a": np.repeat(lpdf["lid"].to_numpy().astype("int64"), nr),
                "id_b": np.tile(rpdf["rid"].to_numpy().astype("int64"), nl),
                "cosine": cos.ravel(),
            }
        )

    return (
        lex.groupBy("bi", "bj")
        .cogroup(rex.groupBy("bi", "bj"))
        .applyInPandas(_score, "id_a long, id_b long, cosine double")
    )


def duplicate_clusters(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over a duplicate-pair edge list:
    (node, cluster_id) with cluster_id = min node id in the component.

    The step EVERY dedup cascade needs after pair generation — near-dup
    relations aren't transitive-closed, so keeping "one of each pair"
    over-deletes; the correct unit is the component (keep min id per
    cluster, drop the rest).

    Iterative min-label propagation with POINTER JUMPING: each round
    takes the min over (own label, neighbors' labels, label-of-label).
    The neighbor step alone needs diameter rounds (Kiveris et al.,
    'Connected Components in MapReduce and Beyond', SoCC'14); the
    label-of-label self-join compresses paths so convergence is
    O(log diameter) — a 2^20-diameter chain converges within the
    default 20-round cap, where plain propagation would silently
    return unconverged labels (and disagree with the oracle's
    recursive-CTE transitive closure).  Both lookups only ever
    surface ids from the same component, so every intermediate label
    is a valid component member and the fixpoint is the component
    min.  Each round is two shuffle joins + one aggregate; lineage is
    truncated with localCheckpoint per round so plans stay flat.
    Convergence is detected by an exact count of changed labels (r16,
    guide §2.1 "fewer actions"): the PREVIOUS label rides the update
    projection into the round's checkpoint, so one count of
    ``label != prev`` over the checkpointed output both materializes
    the new labels and measures convergence — the r15 shape re-joined
    new labels against old (two more exchanges) in a SECOND action per
    round.  (An ``observe()`` metric on the checkpoint action would
    fold the scalar into the same job, but Spark 4.1's Observation
    handle leaks a non-serializable ObservationManager reference into
    later task closures on the same session — measured as
    ``NotSerializableException`` in downstream spark.ml jobs — so the
    one extra tiny scan-count is the robust form.)  The driver reads
    one scalar per round, never data; exhausting ``max_iter`` without
    converging RAISES rather than shipping wrong clusters.
    """
    edges = pairs.select(
        F.col(a_col).cast("long").alias("src"), F.col(b_col).cast("long").alias("dst")
    )
    edges = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    edges = edges.localCheckpoint(eager=False)

    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=False)
    )
    converged = False
    for it in range(max_iter):
        nbr_min = (
            edges.join(labels, edges["dst"] == labels["node"])
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        base = labels.join(nbr_min, labels["node"] == nbr_min["src"], "left")
        cands = [
            F.col("label"),
            F.coalesce(F.col("nbr_label"), F.col("label")),
        ]
        if it >= 2:
            # pointer jumping: my label's OWN current label (path
            # halving).  Costs one extra shuffle join per round, and
            # clique-ish near-dup graphs converge in rounds 0-2 via the
            # neighbor min alone, so engage it only once a component
            # has survived two plain rounds (i.e. its diameter is the
            # bottleneck) — chains then collapse in O(log d) rounds.
            jump = labels.select(
                F.col("node").alias("__jnode"), F.col("label").alias("__jlabel")
            )
            base = base.join(jump, base["label"] == jump["__jnode"], "left")
            cands.append(F.coalesce(F.col("__jlabel"), F.col("label")))
        new_full = base.select(
            "node",
            F.least(*cands).alias("label"),
            F.col("label").alias("__prev"),
        ).localCheckpoint(eager=False)
        # one action: materializes the round's checkpoint AND counts
        # the changed labels (no new-vs-old re-join)
        changed = new_full.filter(F.col("label") != F.col("__prev")).count()
        labels = new_full.select("node", "label")
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"duplicate_clusters did not converge within {max_iter} rounds "
            f"(pointer jumping engages from round 2, so guaranteed "
            f"coverage is only ~2^{max(max_iter - 2, 0)} hops — a larger "
            f"component diameter, or a genuine bug, exceeds it) — "
            f"refusing to return partially-merged clusters"
        )
    return labels.select(F.col("node"), F.col("label").alias("cluster_id"))


def dedup_keepers(
    pairs: DataFrame, a_col: str = "id_a", b_col: str = "id_b"
) -> DataFrame:
    """(node, cluster_id, keep): cluster-resolved dedup decisions —
    keep = (node == cluster_id), i.e. one representative (min id) per
    connected component; everything else is a drop."""
    cl = duplicate_clusters(pairs, a_col, b_col)
    return cl.withColumn("keep", F.col("node") == F.col("cluster_id"))


def dedup_cascade(
    docs: DataFrame,
    threshold: float = 0.8,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    method: str = "prefix",
) -> DataFrame:
    """End-to-end dedup pipeline: (doc_id, keep, reason).

    The composition every training-data pipeline runs:

      1. EXACT pass first (cheapest: one fingerprint shuffle) — only
         min-id survivors advance, shrinking the fuzzy pass's input;
      2. NEAR-DUP pairs over the survivors — ``method='prefix'``
         (exact, positional-filtered set-similarity join) or
         ``method='minhash'`` (banded LSH candidates with est-Jaccard
         verify, the cheaper approximate path for web-scale corpora);
         both produce the same downstream pair shape;
      3. CLUSTER resolution (connected components) so transitively-
         linked near-dups collapse to ONE representative;
      4. decisions: keep = exact-keeper AND cluster representative.

    ``reason`` is 'exact_dup' (dropped by pass 1), 'near_dup' (dropped
    by pass 2/3), or 'kept'.
    """
    exact = exact_duplicates(docs, text_col, id_col)
    keepers = exact.select(F.col("keeper_id").alias(id_col))
    survivors = docs.join(keepers, id_col, "left_semi")

    if method == "prefix":
        pairs = ngram_jaccard_pairs_prefix(
            survivors, threshold, k, text_col, id_col, hashed=True
        )
    elif method == "minhash":
        pairs = minhash_lsh_pairs(
            survivors, threshold, text_col=text_col, id_col=id_col, k=k
        ).select("id_a", "id_b")
    else:
        raise ValueError(f"unknown dedup_cascade method: {method!r}")
    clusters = duplicate_clusters(pairs)

    decided = (
        docs.select(F.col(id_col))
        .join(keepers.withColumn("__exact_keep", F.lit(True)), id_col, "left")
        .join(
            clusters.select(
                F.col("node").alias(id_col),
                (F.col("node") == F.col("cluster_id")).alias("__cluster_keep"),
            ),
            id_col,
            "left",
        )
    )
    keep = F.coalesce(F.col("__exact_keep"), F.lit(False)) & F.coalesce(
        F.col("__cluster_keep"), F.lit(True)
    )
    reason = (
        F.when(~F.coalesce(F.col("__exact_keep"), F.lit(False)), F.lit("exact_dup"))
        .when(~F.coalesce(F.col("__cluster_keep"), F.lit(True)), F.lit("near_dup"))
        .otherwise(F.lit("kept"))
    )
    return decided.select(F.col(id_col), keep.alias("keep"), reason.alias("reason"))


def cascade_oracle_sql(threshold: float = 0.8, k: int = 8) -> str:
    """DuckDB oracle for ``dedup_cascade(method='prefix')``: stitches
    the already-proven component oracles — md5 normalized fingerprint
    (dedup_exact), exact shingle-Jaccard pairs over the exact-pass
    survivors (dedup_ngram_jaccard; the prefix-filtered Spark plan is
    pytest-pinned result-identical), recursive-CTE transitive closure
    (dedup_clusters) — into the end-to-end (doc_id, keep, reason)
    decision the Spark composition emits."""
    return rf"""
    WITH RECURSIVE fp AS (
        SELECT doc_id,
               md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))
                   AS fingerprint
        FROM documents
    ),
    exact_keep AS (
        SELECT MIN(doc_id) AS doc_id FROM fp GROUP BY fingerprint
    ),
    surv AS (
        SELECT d.doc_id, d.text FROM documents d
        JOIN exact_keep ek ON ek.doc_id = d.doc_id
    ),
    ex AS (
        SELECT doc_id, unnest(list_distinct([substring(text, i, {k})
                   for i in generate_series(1,
                       greatest(length(text) - {k - 1}, 1))])) AS sh
        FROM surv
    ),
    sizes AS (
        SELECT doc_id, COUNT(*) AS n FROM ex GROUP BY doc_id
    ),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
        FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT id_a, id_b FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE)
                  >= {threshold}
    ),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION SELECT id_b, id_a FROM pairs
    ),
    labels(node, label) AS (
        SELECT DISTINCT src, src FROM edges
        UNION
        SELECT e.src, l.label FROM edges e JOIN labels l ON l.node = e.dst
    ),
    cl AS (
        SELECT node, node = MIN(label) AS cluster_keep
        FROM labels GROUP BY node
    )
    SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
           (ek.doc_id IS NOT NULL) AND COALESCE(cl.cluster_keep, TRUE)
               AS keep,
           CASE WHEN ek.doc_id IS NULL THEN 'exact_dup'
                WHEN NOT COALESCE(cl.cluster_keep, TRUE) THEN 'near_dup'
                ELSE 'kept' END AS reason
    FROM documents d
    LEFT JOIN exact_keep ek ON ek.doc_id = d.doc_id
    LEFT JOIN cl ON cl.node = d.doc_id
    """


def incremental_dedup(
    new_batch: DataFrame,
    corpus_fingerprints: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Admission decision for a NEW batch against an already-deduped
    corpus — the pass a production pipeline runs per crawl drop, where
    re-fingerprinting 100 TB of accepted corpus per batch is not an
    option.

    ``corpus_fingerprints`` is the running fingerprint store (one
    ``fingerprint`` column, e.g. ``exact_duplicates(...)`` output or a
    bronze table the pipeline appends accepted fingerprints to).

    Returns one row per new doc: (id, fingerprint, verdict) with
    verdict in {'accept', 'dup_of_corpus', 'dup_in_batch'} — batch-
    internal copies keep the min-id representative (which can still be
    rejected as dup_of_corpus; its siblings stay dup_in_batch).

    Scale shape: fingerprint the NEW batch only (scan-stage md5), one
    window per fingerprint for batch-internal min-id (shuffles just the
    batch), and a LEFT join against the store on the fingerprint — at
    scale the store side is bucketed/partitioned by fingerprint so the
    join co-locates with no store shuffle; the small batch side streams
    through it.
    """
    from pyspark.sql.window import Window

    from .textstats import fingerprint_col

    fp = new_batch.select(
        F.col(id_col), fingerprint_col(F.col(text_col)).alias("fingerprint")
    )
    # row_number, NOT min(id)==id: a double-delivered shard can carry
    # two physically identical rows (same id, same text); min==id would
    # accept both and the admission stream would write the row twice.
    # row_number picks exactly one representative per fingerprint (ties
    # on id are identical rows, so the output multiset is
    # deterministic) with the same single batch-side shuffle.
    rn = F.row_number().over(Window.partitionBy("fingerprint").orderBy(id_col))
    fp = fp.withColumn("__first", rn == 1)
    store = corpus_fingerprints.select(
        F.col("fingerprint"), F.lit(True).alias("__known")
    ).distinct()
    verdict = (
        F.when(~F.col("__first"), F.lit("dup_in_batch"))
        .when(F.col("__known").isNotNull(), F.lit("dup_of_corpus"))
        .otherwise(F.lit("accept"))
    )
    return (
        fp.join(store, "fingerprint", "left")
        .select(F.col(id_col), "fingerprint", verdict.alias("verdict"))
    )


def incremental_near_dedup(
    new_batch: DataFrame,
    store_bands: DataFrame,
    store_sigs: DataFrame,
    threshold: float = 0.8,
    num_perm: int = 32,
    bands: int = 8,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int = 10000,
    seeded: bool = False,
) -> DataFrame:
    """NEAR-dup admission of a new batch against a persistent LSH
    store: the fuzzy counterpart of :func:`incremental_dedup`, for the
    continuous-crawl case where re-crawled pages differ by a date
    stamp or ad block and exact fingerprints never match.

    ``store_bands`` is the accepted corpus's (band_idx, band_hash,
    doc_id) bucket table; ``store_sigs`` its (doc_id, sig) MinHash
    signatures — both produced by :func:`band_buckets` /
    :func:`minhash_signatures` so batch and store agree on the hash
    family by construction.  Verdicts:

    * ``near_dup_of_corpus`` — a band collision with an accepted doc,
      CONFIRMED by signature agreement >= threshold (matched_id = the
      best corpus match by (est_jaccard desc, id), deterministic);
    * ``dup_in_batch`` — EXACT normalized copies of a smaller-id batch
      doc collapse first (est_jaccard 1.0, matched_id = the exact
      keeper); then, among the corpus survivors, connected-component
      resolution over the batch-internal LSH pairs keeps the min-id
      doc per component (matched_id = the keeper, est_jaccard NULL; a
      pair of near-dup NEW docs must admit exactly one);
    * ``accept`` — everything else.

    Scale shape: the batch side is micro-batch-sized; the store-bands
    join is an equi-join on (band_idx, band_hash) — bucket the store
    by exactly (band_idx, band_hash) at scale (the FULL join key:
    bucketing a key subset makes the planner disable the bucketed
    scan) and the store never shuffles; the small batch streams
    through it (plan-asserted in test_bucketing.py).  Signature verification joins
    only the CANDIDATE ids (semi-pruned), so store signatures are
    touched for collisions only.  The CC loop runs over batch-
    internal pairs (micro-batch-sized, executes eagerly at call
    time).

    The EXACT pre-collapse is load-bearing, not cosmetic: identical
    texts have identical signatures, so m copies of one doc put m ids
    in every one of their band buckets — C(m, 2) LSH candidate pairs
    per band for pairs that a one-shuffle fingerprint pass resolves
    outright (measured 501s -> linear at a 100k-doc batch whose
    replicated corpus carried identical short docs).  ``max_bucket``
    then guards the residual case — distinct texts colliding into one
    degenerate bucket — same cap semantics as
    :func:`minhash_lsh_pairs`.
    """
    from pyspark.sql.window import Window

    from .textstats import fingerprint_col

    # ``seeded=True`` swaps the xxhash64 hash family for the md5 +
    # literal-LCG one (identical plan shape) so the whole admission
    # becomes DuckDB-reproducible; incremental_near_oracle_sql emits
    # the matching oracle from the same literals.
    sig = minhash_signatures(
        new_batch, text_col, id_col, num_perm, k, seeded=seeded
    ).localCheckpoint(eager=False)

    fp = new_batch.select(
        F.col(id_col), fingerprint_col(F.col(text_col)).alias("__fp")
    )
    fp = fp.withColumn(
        "__rn", F.row_number().over(Window.partitionBy("__fp").orderBy(id_col))
    )
    exact_keepers = fp.filter(F.col("__rn") == 1)
    exact_dups = (
        fp.filter(F.col("__rn") > 1)
        .join(
            exact_keepers.select(
                F.col("__fp"), F.col(id_col).alias("matched_id")
            ),
            "__fp",
        )
        .select(
            F.col(id_col),
            F.lit("dup_in_batch").alias("verdict"),
            "matched_id",
            F.lit(1.0).alias("est_jaccard"),
        )
        .localCheckpoint(eager=False)
    )
    sig = sig.join(exact_keepers.select(id_col), id_col, "left_semi").localCheckpoint(
        eager=False
    )

    bb = _cap_buckets(
        band_buckets(sig, num_perm=num_perm, bands=bands, id_col=id_col, seeded=seeded),
        max_bucket,
    ).localCheckpoint(eager=False)

    # STORE-side hot-bucket guard: restrict the store to the buckets
    # this batch actually probes (semi-join on the band key — one pass
    # over the collided rows, no pair materialization), then drop any
    # probed bucket whose STORE population exceeds the cap.  Without
    # this, a degenerate store bucket (> cap accepted docs sharing a
    # band) fans every colliding batch doc out to all of them through
    # the signature verify — the quadratic class the batch-side cap
    # alone cannot prevent.  The count aggregate is map-side combined
    # with O(probed buckets) output.
    sb = store_bands.select(
        "band_idx", "band_hash", F.col(id_col).alias("matched_id")
    ).join(
        bb.select("band_idx", "band_hash").distinct(),
        ["band_idx", "band_hash"],
        "left_semi",
    )
    sb = _cap_buckets(sb, max_bucket)
    cand = (
        bb.join(sb, ["band_idx", "band_hash"])
        .select(F.col(id_col), "matched_id")
        .distinct()
    )
    sa = sig.select(F.col(id_col), F.col("sig").alias("sig_a"))
    ss = store_sigs.select(
        F.col(id_col).alias("matched_id"), F.col("sig").alias("sig_b")
    )
    ver = (
        cand.join(sa, id_col)
        .join(ss, "matched_id")
        .withColumn("est_jaccard", _sig_agreement(num_perm))
        .filter(F.col("est_jaccard") >= threshold)
    )
    best = F.row_number().over(
        Window.partitionBy(id_col).orderBy(F.desc("est_jaccard"), "matched_id")
    )
    corpus_matches = (
        ver.withColumn("__rn", best)
        .filter(F.col("__rn") == 1)
        .select(id_col, "matched_id", "est_jaccard")
        .localCheckpoint(eager=False)
    )

    surv_sig = sig.join(corpus_matches.select(id_col), id_col, "left_anti")
    surv_bb = _cap_buckets(
        band_buckets(surv_sig, num_perm=num_perm, bands=bands, id_col=id_col, seeded=seeded),
        max_bucket,
    )
    pairs = _verify_pairs(
        _bucket_pairs(surv_bb, "band_hash", id_col), surv_sig, "sig", id_col,
        _sig_agreement(num_perm).alias("est_jaccard"),
        F.col("est_jaccard") >= threshold,
    ).select("id_a", "id_b")
    comp = duplicate_clusters(pairs)
    dup_batch = comp.filter(F.col("node") != F.col("cluster_id")).select(
        F.col("node").alias(id_col), F.col("cluster_id").alias("matched_id")
    )

    all_ids = sig.select(id_col)
    accepted = (
        all_ids.join(corpus_matches.select(id_col), id_col, "left_anti")
        .join(dup_batch.select(id_col), id_col, "left_anti")
    )
    return (
        exact_dups
        .unionByName(
            corpus_matches.select(
                id_col,
                F.lit("near_dup_of_corpus").alias("verdict"),
                "matched_id",
                "est_jaccard",
            )
        )
        .unionByName(
            dup_batch.select(
                id_col,
                F.lit("dup_in_batch").alias("verdict"),
                "matched_id",
                F.lit(None).cast("double").alias("est_jaccard"),
            )
        )
        .unionByName(
            accepted.select(
                id_col,
                F.lit("accept").alias("verdict"),
                F.lit(None).cast("long").alias("matched_id"),
                F.lit(None).cast("double").alias("est_jaccard"),
            )
        )
    )


def repeated_substring_spans(
    docs: DataFrame,
    k: int = 40,
    min_windows: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    hashed: bool = False,
) -> DataFrame:
    """ExactSubstr-style cross-document verbatim-repeat detection (Lee
    et al., ACL'22, "Deduplicating Training Data Makes Language Models
    Better"): per doc, the maximal character spans whose EVERY k-char
    window also occurs in at least one OTHER document — the verbatim
    repeats that inflate memorization, reported positionally so the
    cut/keep policy can act on spans instead of whole docs.

    The published technique builds a corpus suffix array; the Spark
    re-expression anchors on k-char windows at every position (one
    scan-stage posexplode), finds windows whose document frequency is
    >= 2 DISTINCT docs (one window-keyed shuffle with map-side
    combine), and merges consecutive flagged positions per doc with
    the gaps-and-islands trick (window partitioned BY DOC, carrying
    two longs per hit, never text).  A repeat of length L >= k yields
    L - k + 1 consecutive flagged windows, so ``span_chars`` =
    windows + k - 1 recovers the repeat length exactly;
    ``min_windows`` is the noise floor (chance k-char collisions are
    isolated, verbatim quotation is a run — the same reasoning as
    decontam.contamination_spans).  Within-doc self-repeats do NOT
    flag (distinct-doc frequency), keeping the output a CROSS-doc
    dedup signal.

    ``hashed=False`` (default, the declared oracle query) joins on the
    raw substring — DuckDB-exact.  ``hashed=True`` is the 100 TB path:
    xxhash64 the window first, shrinking the window-keyed shuffle from
    ~k bytes to 8 per row (measured 100x worst-case: 90s -> see
    SCALING.md); a false flag needs two distinct windows colliding in
    64 bits AND min_windows-1 consecutive neighbors doing the same —
    vanishing.
    """
    from pyspark.sql.window import Window

    # per-position window materialization + hashing is the hot loop;
    # spread an under-parallelized scan across cores first (r15)
    d = spread_scan(docs.filter(F.length(text_col) >= k))
    win = F.expr(
        f"transform(sequence(1, length({text_col}) - {k - 1}),"
        f" i -> substring({text_col}, i, {k}))"
    )
    w = d.select(F.col(id_col), F.posexplode(win).alias("__p0", "__w")).select(
        F.col(id_col),
        (F.col("__p0") + 1).alias("__pos"),
        (F.xxhash64("__w") if hashed else F.col("__w")).alias("__w"),
    )
    # ">= 2 distinct docs" as min!=max — computed as WINDOW aggregates
    # over the window-keyed partition (r16, guide §2.4): the r15 shape
    # aggregated (min, max) into a groupBy leg and joined it back,
    # which shuffled the full (doc, pos, window) table on __w TWICE
    # (map-side-combined agg + the join probe) and ran the
    # posexplode scan twice.  One exchange on __w computes identical
    # MIN/MAX per window key; countDistinct would still plan the
    # two-phase distinct Expand this avoids.
    ww = W.partitionBy("__w")
    hits = (
        w.withColumn("__lo", F.min(id_col).over(ww))
        .withColumn("__hi", F.max(id_col).over(ww))
        .filter(F.col("__lo") != F.col("__hi"))
        .select(id_col, "__pos")
    )
    rn = F.row_number().over(Window.partitionBy(id_col).orderBy("__pos"))
    runs = hits.withColumn("__grp", F.col("__pos") - rn)
    return (
        runs.groupBy(id_col, "__grp")
        .agg(
            F.min("__pos").cast("long").alias("span_start"),
            F.count("*").cast("long").alias("span_windows"),
            (F.count("*") + (k - 1)).cast("long").alias("span_chars"),
        )
        .filter(F.col("span_windows") >= min_windows)
        .select(id_col, "span_start", "span_windows", "span_chars")
    )


def semantic_dedup_pairs(
    emb: DataFrame,
    quantizer,
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """SemDeDup-style semantic near-dup pairs: the coarse ``quantizer``
    (``similarity.KMeansQuantizer`` or ``similarity.SeededQuantizer``)
    cells the embedding space, then exact cosine only WITHIN each cell.

    The published recipe for embedding-level dedup at corpus scale
    (cluster first, compare within cells): two semantically-identical
    documents land in the same cell with near-certainty, so the
    quadratic comparison shrinks from C(n,2) to sum C(cell,2) — with
    n_cells sized ~n/target_cell, per-cell work is bounded and the
    comparison is an EQUI-join on the cell id (one shuffle), never a
    cross join.  At scale give the k-means quantizer a
    ``fit_sample_fraction`` so it fits on a seeded sample (same
    posture as IVF).  The seeded quantizer is the oracle-checkable
    declared form of dedup_semantic (r6): cells are the Voronoi
    regions of the n_cells corpus vectors with the smallest
    (LCG(vec_id), vec_id) key, and the whole query is integer LCG
    arithmetic + ordered double folds that DuckDB reproduces
    bit-for-bit.  An empty seeded corpus yields no pairs.

    Verification stays exact: every emitted pair carries its true
    cosine >= threshold.  Recall loss is confined to pairs split
    across a cell boundary — rare for the near-identical pairs dedup
    targets (pytest asserts recall against the all-pairs oracle).
    """
    base = _with_norm(emb, vec_col, id_col)
    cells = quantizer.fit(emb, vec_col, id_col, base, "v")
    if cells is None:  # no cells, so no pairs
        base = base.limit(0).withColumn("__cell", F.lit(0))
    else:
        assign, _ = cells
        base = assign(base, "v", "__cell")
    a, b = base.alias("a"), base.alias("b")
    cosine = _dot("a.v", "b.v") / (F.col("a.__norm") * F.col("b.__norm"))
    return (
        a.join(
            b,
            (F.col("a.__cell") == F.col("b.__cell"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            cosine.alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def blocked_fuzzy_pairs(
    df: DataFrame,
    name_col: str,
    max_dist: int = 2,
) -> DataFrame:
    """Entity-resolution candidate pairs: distinct name strings whose
    Levenshtein distance is <= ``max_dist``, generated only WITHIN
    blocks of equal string length (classic blocking: candidate count
    is bounded by sum C(block, 2) over the distinct-name vocabulary,
    never by row count — exact duplicates collapse in the distinct
    step, so a billion-row catalog with a 100k-name vocabulary does a
    100k-scale comparison).

    A length block catches substitution typos but misses
    insertions/deletions — the standard recall trade; production ER
    runs several blocking passes (length, prefix, phonetic) and unions
    the candidates.  One pass is declared here so the oracle semantics
    are exact.

    Output: (name_a, name_b, distance, n_a, n_b) with name_a < name_b;
    n_* are the row counts carrying each name, so downstream merge
    decisions know each entity's weight.
    """
    names = (
        df.select(F.col(name_col).alias("name"))
        .groupBy("name")
        .agg(F.count("*").alias("n"))
        .withColumn("__blk", F.length("name"))
    )
    a = names.select(
        F.col("name").alias("name_a"), F.col("n").alias("n_a"), "__blk"
    )
    b = names.select(
        F.col("name").alias("name_b"), F.col("n").alias("n_b"), "__blk"
    )
    return (
        a.join(b, "__blk")
        .filter(F.col("name_a") < F.col("name_b"))
        .withColumn("distance", F.levenshtein("name_a", "name_b").cast("bigint"))
        .filter(F.col("distance") <= max_dist)
        .select("name_a", "name_b", "distance", "n_a", "n_b")
    )
