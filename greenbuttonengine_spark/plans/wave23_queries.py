"""Round-11 extension wave (third batch): the evaluation-and-audit
tier of the pipeline surface.

Theme: every approximate subsystem the engine ships (LSH dedup, the
learned quality filter, sketch aggregates, weighted sampling) gets the
measurement query a production curation run needs NEXT TO it —
precision of the LSH candidates against exact Jaccard, calibration of
the perceptron margin against its weak labels, Count-Min overcount
against exact counts, distribution drift between sources, and a
weighted sampler whose pick-count invariant is provable.  Same
cross-engine discipline as waves 9-22: exact integer arithmetic (ANSI
mode throws on overflow rather than wrapping) plus single
correctly-rounded IEEE ops on identical inputs, so every value
replays bit-for-bit in the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..extensions import dedup
from ..extensions.dedup import (
    _MH_P,
    _shingles,
    lcg_perm_params,
    md5_hash32,
    minhash_seeded_pair_ctes,
)
from ..extensions.quality_model import fixed_point_quality, fixed_quality_oracle_sql
from ..sources.catalog import load_table
from .registry import register

# --------------------------------------------------------------------------
# Count-Min sketch heavy hitters
# --------------------------------------------------------------------------

_CMS_D = 4  # hash rows
_CMS_W = 512  # buckets per row
_CMS_SEED = 0xC3A5  # distinct from the MinHash permutation seed
_CMS_TOPK = 20


def _cms_oracle_sql() -> str:
    params = lcg_perm_params(_CMS_D, seed=_CMS_SEED)
    values = ", ".join(f"({r}, {a}, {b})" for r, (a, b) in enumerate(params))
    return rf"""
    WITH params(r, a, b) AS (VALUES {values}),
    tok AS (
        SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
        FROM documents
    ),
    v AS (
        SELECT token, COUNT(*) AS n,
               CAST(concat('0x', substr(md5(token), 1, 8)) AS BIGINT)
                   % {_MH_P} AS h0
        FROM tok GROUP BY token
    ),
    ctr AS (
        SELECT p.r, ((p.a * v.h0 + p.b) % {_MH_P}) % {_CMS_W} AS bucket,
               SUM(v.n) AS c
        FROM v CROSS JOIN params p GROUP BY 1, 2
    ),
    top AS (
        SELECT token, n, h0 FROM v ORDER BY n DESC, token LIMIT {_CMS_TOPK}
    )
    SELECT t.token, CAST(t.n AS BIGINT) AS n_exact,
           CAST(MIN(c.c) AS BIGINT) AS cms_estimate,
           CAST(MIN(c.c) - t.n AS BIGINT) AS overcount
    FROM top t
    JOIN params p ON TRUE
    JOIN ctr c ON c.r = p.r
              AND c.bucket = ((p.a * t.h0 + p.b) % {_MH_P}) % {_CMS_W}
    GROUP BY t.token, t.n
    """


@register(
    "approx_cms_heavy_hitters",
    _cms_oracle_sql(),
    tags=("agg", "approx", "textstats"),
    doc="Count-Min sketch heavy hitters (Cormode & Muthukrishnan '05) "
    "over the corpus token stream: d=4 seeded hash rows x w=512 "
    "counters, estimate = min over rows — the mergeable fixed-size "
    "frequency sketch that complements the KMV distinct sketch "
    "(approx_sketch_aggregates); counters from different sources/"
    "shards ADD, so a 100 TB run keeps one 4x512 integer table per "
    "shard and merges by sum.  Hash family: the md5-32 token hash "
    "reduced mod 2^31-1 then one literal-LCG affine map per row — the "
    "exact cross-engine family the MinHash/RAG/shard oracles pin.  "
    "Estimate >= exact ALWAYS (one-sided error); the top-20 exact "
    "tokens ride alongside so the driver sees the overcount.  Spark "
    "shape: one vocabulary aggregate (map-side combined), counters "
    "derived from the VOCAB (not the token stream — d x |vocab| rows, "
    "never d x corpus), candidates via TakeOrdered, and a broadcast "
    "join of the 2,048-row counter table.  All-integer arithmetic: "
    "a*h0 < 2^62 for a,h0 < 2^31 so ANSI mode cannot throw.",
)
def approx_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    params = lcg_perm_params(_CMS_D, seed=_CMS_SEED)
    toks = docs.select(
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("token")
    )
    vocab = toks.groupBy("token").agg(F.count("*").alias("n"))
    vocab = vocab.withColumn("h0", md5_hash32(F.col("token")) % F.lit(_MH_P))

    def bucket(r: int, h0):
        a, b = params[r]
        return (F.lit(a) * h0 + F.lit(b)) % F.lit(_MH_P) % F.lit(_CMS_W)

    rows = F.array(
        *[
            F.struct(
                F.lit(r).alias("r"), bucket(r, F.col("h0")).alias("bucket")
            )
            for r in range(_CMS_D)
        ]
    )
    ctr = (
        vocab.select(F.col("n"), F.explode(rows).alias("rb"))
        .groupBy(F.col("rb.r").alias("r"), F.col("rb.bucket").alias("bucket"))
        .agg(F.sum("n").alias("c"))
    )
    top = vocab.orderBy(F.desc("n"), "token").limit(_CMS_TOPK)
    probes = top.select(
        "token", "n", F.explode(rows).alias("rb")
    ).select("token", "n", F.col("rb.r").alias("r"), F.col("rb.bucket").alias("bucket"))
    return (
        probes.join(F.broadcast(ctr), ["r", "bucket"])
        .groupBy("token", "n")
        .agg(F.min("c").alias("cms_estimate"))
        .select(
            "token",
            F.col("n").cast("long").alias("n_exact"),
            F.col("cms_estimate").cast("long").alias("cms_estimate"),
            (F.col("cms_estimate") - F.col("n")).cast("long").alias("overcount"),
        )
    )


# --------------------------------------------------------------------------
# LSH candidate precision eval (the dedup analog of eval_pq_recall)
# --------------------------------------------------------------------------

_MP_K = 8  # shingle length (matches dedup_minhash_lsh)
_MP_PERM = 32
_MP_BANDS = 8
_MP_TRUE_J = 0.8  # exact-Jaccard threshold defining a true duplicate
# Deterministic candidate-pair sample rate (LCG basis points of 10000).
# The exact-Jaccard leg costs a shingle join PER CANDIDATE, and the
# candidate count grows with the corpus (the one 100x measurement that
# grew ~12x in wall when this query scored ALL candidates — r11
# VERDICT item 3); a seeded keep-rate on the PAIR key makes the eval
# leg a fixed fraction, tunable down as the corpus grows, while the
# estimate stays unbiased (membership is a pure hash of (id_a, id_b),
# independent of the Jaccard values being audited).
_MP_SAMPLE_BP = 2500
# Literal cap on sampled pairs: the exact-Jaccard leg is O(cap) FOREVER
# — a rate alone still grows linearly with the candidate count (the
# 100x re-measure of the rate-only form read ~117s, unchanged from the
# all-candidates form, because candidates grow with the corpus).  The
# cap is a seeded top-N (LCG key, then (id_a, id_b) tiebreak): a
# uniform without-replacement sample whose membership both engines
# replay exactly.
_MP_SAMPLE_CAP = 8192


def _pair_key_sql() -> str:
    return (
        "(((((id_a % 2147483648) * 100003 + (id_b % 2147483648))"
        " % 2147483648) * 1103515245 + 12345) // 65536) % 10000"
    )


def _pair_sample_sql(rate_bp: int = _MP_SAMPLE_BP) -> str:
    return f"{_pair_key_sql()} < {rate_bp}"


def _minhash_precision_oracle_sql() -> str:
    ctes = minhash_seeded_pair_ctes(
        threshold=0.0, num_perm=_MP_PERM, bands=_MP_BANDS, k=_MP_K
    )
    return f"""
    WITH {ctes},
    sp AS (
        SELECT id_a, id_b, est_jaccard FROM (
            SELECT mh.*, ROW_NUMBER() OVER (
                ORDER BY {_pair_key_sql()}, id_a, id_b) AS srn
            FROM mh_pairs mh WHERE {_pair_sample_sql()}
        ) WHERE srn <= {_MP_SAMPLE_CAP}
    ),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM ex GROUP BY doc_id),
    itx AS (
        SELECT p.id_a, p.id_b, COUNT(*) AS n_inter
        FROM sp p
        JOIN ex a ON a.doc_id = p.id_a
        JOIN ex b ON b.doc_id = p.id_b AND b.h0 = a.h0
        GROUP BY 1, 2
    )
    SELECT p.id_a, p.id_b, p.est_jaccard,
           CAST(coalesce(itx.n_inter, 0) AS BIGINT) AS n_inter,
           CAST(sa.n + sb.n - coalesce(itx.n_inter, 0) AS BIGINT) AS n_union,
           CAST(coalesce(itx.n_inter, 0) AS DOUBLE)
               / CAST(sa.n + sb.n - coalesce(itx.n_inter, 0) AS DOUBLE)
               AS exact_jaccard,
           CAST(coalesce(itx.n_inter, 0) AS DOUBLE)
               / CAST(sa.n + sb.n - coalesce(itx.n_inter, 0) AS DOUBLE)
               >= {_MP_TRUE_J} AS is_true_dup
    FROM sp p
    JOIN sz sa ON sa.doc_id = p.id_a
    JOIN sz sb ON sb.doc_id = p.id_b
    LEFT JOIN itx ON itx.id_a = p.id_a AND itx.id_b = p.id_b
    """


@register(
    "eval_minhash_precision",
    _minhash_precision_oracle_sql(),
    tags=("dedup", "eval"),
    doc="Precision audit of the banded-LSH candidate generator — the "
    "dedup analog of eval_pq_recall: every band-collision candidate "
    "pair (threshold 0, i.e. BEFORE the signature-agreement filter) "
    "scored with its EXACT shingle-set Jaccard (|A∩B|/|A∪B| over the "
    "distinct hashed 8-shingles — exact integers, one division) next "
    "to the MinHash estimate, plus the true-dup verdict at J>=0.8.  "
    "This is the go/no-go read on the (bands, rows) operating point: "
    "est-vs-exact error and false-positive rate are driver-visible "
    "before anyone deletes a document.  Scale shape: candidates come "
    "from the capped band join (never all-pairs), then a DETERMINISTIC "
    f"{_MP_SAMPLE_BP / 100:.0f}% seeded-LCG sample of candidate PAIRS "
    f"capped at a LITERAL {_MP_SAMPLE_CAP} pairs (seeded top-N on the "
    "(id_a, id_b) mix — a without-replacement uniform sample, so the "
    "exact-Jaccard leg is O(cap) at ANY corpus size and the pair list "
    "is always broadcast-safe); only documents appearing in a sampled "
    "pair are shingled (semi-join prune) — the eval leg never scans "
    "the corpus the dedup path already processed.",
)
def eval_minhash_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..extensions.sampling import hash_bucket

    docs = load_table(spark, "documents", sf_dir)
    cand = dedup.minhash_lsh_pairs(
        docs, threshold=0.0, num_perm=_MP_PERM, bands=_MP_BANDS, k=_MP_K,
        seeded=True,
    )
    pairkey = (
        F.pmod(F.col("id_a"), F.lit(2147483648)) * F.lit(100003)
        + F.pmod(F.col("id_b"), F.lit(2147483648))
    )
    # rate sample -> literal top-N cap (TakeOrderedAndProject: map-side
    # partial top-N, no global sort), then an EAGER checkpoint: the
    # <=cap-row sample feeds three consumers, two of them broadcast
    # exchanges whose jobs Spark submits concurrently — a lazy
    # checkpoint lets both race to compute the LSH generator (measured
    # 2x the generator wall at 100x); eager materializes the tiny
    # sample once, synchronously, before either broadcast starts.
    cand = (
        cand.withColumn("__sk", hash_bucket(pairkey))
        .filter(F.col("__sk") < _MP_SAMPLE_BP)
        .orderBy("__sk", "id_a", "id_b")
        .limit(_MP_SAMPLE_CAP)
        .drop("__sk")
        .localCheckpoint(eager=True)
    )
    # shingle ONLY documents that appear in a sampled pair: the full-
    # corpus distinct was the other half of the 117s (135M rows at
    # 100x; the pruned set is O(cap) documents).
    pair_ids = (
        cand.select(F.col("id_a").alias("doc_id"))
        .unionAll(cand.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    sh = (
        docs.join(F.broadcast(pair_ids), "doc_id", "left_semi")
        .select(
            "doc_id", F.explode(_shingles("text", _MP_K, distinct=True)).alias("sh")
        )
        .select("doc_id", (md5_hash32(F.col("sh")) % F.lit(_MH_P)).alias("h0"))
        .distinct()
    )
    sz = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    pairs = cand.select("id_a", "id_b", "est_jaccard")
    inter = (
        F.broadcast(pairs.select("id_a", "id_b"))
        .join(sh.withColumnRenamed("doc_id", "id_a"), "id_a")
        .join(
            sh.select(F.col("doc_id").alias("id_b"), "h0"),
            ["id_b", "h0"],
        )
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_inter"))
    )
    ni = F.coalesce(F.col("n_inter"), F.lit(0))
    nu = F.col("sa.n") + F.col("sb.n") - ni
    ej = ni.cast("double") / nu.cast("double")
    return (
        pairs.join(sz.withColumnRenamed("doc_id", "id_a").alias("sa"), "id_a")
        .join(sz.withColumnRenamed("doc_id", "id_b").alias("sb"), "id_b")
        .join(inter, ["id_a", "id_b"], "left")
        .select(
            "id_a",
            "id_b",
            "est_jaccard",
            ni.cast("long").alias("n_inter"),
            nu.cast("long").alias("n_union"),
            ej.alias("exact_jaccard"),
            (ej >= F.lit(_MP_TRUE_J)).alias("is_true_dup"),
        )
    )


# --------------------------------------------------------------------------
# Systematic probability-proportional-to-size sampling
# --------------------------------------------------------------------------

_PPS_K = 64  # sample points per stratum
_PPS_B = 256  # offset buckets (the o1 two-level prefix-sum trick)


@register(
    "sample_systematic_pps",
    rf"""
    WITH d AS (
        SELECT lang, doc_id, greatest(n_chars, 1) AS w,
               ((doc_id % {_PPS_B}) + {_PPS_B}) % {_PPS_B} AS bkt
        FROM documents
    ),
    c AS (
        SELECT lang, doc_id, w, bkt,
               SUM(w) OVER (PARTITION BY lang, bkt ORDER BY doc_id
                            ROWS UNBOUNDED PRECEDING) AS lcum
        FROM d
    ),
    bo AS (SELECT lang, bkt, SUM(w) AS bw FROM d GROUP BY 1, 2),
    o AS (
        SELECT lang, bkt,
               coalesce(SUM(bw) OVER (PARTITION BY lang ORDER BY bkt
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS off
        FROM bo
    ),
    t AS (SELECT lang, SUM(w) AS tw FROM d GROUP BY 1)
    SELECT c.lang, c.doc_id, CAST(c.w AS BIGINT) AS weight,
           CAST(o.off + c.lcum AS BIGINT) AS cum_weight,
           CAST(((o.off + c.lcum) * {_PPS_K}) // t.tw
                - ((o.off + c.lcum - c.w) * {_PPS_K}) // t.tw AS BIGINT)
               AS n_picks
    FROM c JOIN o USING (lang, bkt) JOIN t USING (lang)
    WHERE ((o.off + c.lcum) * {_PPS_K}) // t.tw
          > ((o.off + c.lcum - c.w) * {_PPS_K}) // t.tw
    """,
    tags=("sampling",),
    doc="Systematic probability-proportional-to-size sampling: "
    f"exactly {_PPS_K} picks per language, each doc selected with "
    "probability proportional to its weight (n_chars) — the weighted "
    "sampler whose pick count TELESCOPES to exactly K (sum of "
    "floor-crossings of the cumulative weight telescopes to "
    "floor(W*K/W) = K), unlike Bernoulli keep-rates.  Deterministic "
    "(pure integer floor arithmetic over a fixed traversal order), so "
    "backfills and cross-engine audits select identical rows — the "
    "sampler discipline of sampling.py without even a hash.  Scale "
    "shape: the per-stratum prefix sum uses the o1 two-level trick — "
    f"{_PPS_B} doc_id-buckets get LOCAL window sums, bucket offsets "
    "come from a lang x bucket AGGREGATE (tiny) windowed and "
    "broadcast back, so no single task ever scans a whole stratum.  "
    "Overflow: cum*K <= W*K needs W < 2^63/K — at K=64 that is 1.4e17 "
    "total chars per stratum (~140 PB of text); ANSI throws loudly "
    "past it.",
)
def sample_systematic_pps(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    d = docs.select(
        "lang",
        "doc_id",
        F.greatest(F.col("n_chars"), F.lit(1)).cast("long").alias("w"),
        F.pmod("doc_id", F.lit(_PPS_B)).alias("bkt"),
    )
    lcum = F.sum("w").over(
        W.partitionBy("lang", "bkt")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    c = d.withColumn("lcum", lcum)
    bo = d.groupBy("lang", "bkt").agg(F.sum("w").alias("bw"))
    off = bo.withColumn(
        "off",
        F.coalesce(
            F.sum("bw").over(
                W.partitionBy("lang")
                .orderBy("bkt")
                .rowsBetween(W.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).select("lang", "bkt", "off")
    tot = d.groupBy("lang").agg(F.sum("w").alias("tw"))
    j = c.join(F.broadcast(off), ["lang", "bkt"]).join(F.broadcast(tot), "lang")
    cum = F.col("off") + F.col("lcum")
    prev = cum - F.col("w")
    picks = F.expr(f"((off + lcum) * {_PPS_K}) div tw") - F.expr(
        f"((off + lcum - w) * {_PPS_K}) div tw"
    )
    return (
        j.withColumn("n_picks", picks)
        .filter(F.col("n_picks") > 0)
        .select(
            "lang",
            "doc_id",
            F.col("w").cast("long").alias("weight"),
            cum.cast("long").alias("cum_weight"),
            F.col("n_picks").cast("long").alias("n_picks"),
        )
    )


# --------------------------------------------------------------------------
# Association rules over per-user event sets
# --------------------------------------------------------------------------

_AR_MIN_AB = 10


@register(
    "assoc_rules_events",
    f"""
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
    n AS (SELECT event_type, COUNT(*) AS n_u FROM ut GROUP BY 1),
    tot AS (SELECT COUNT(DISTINCT user_id) AS n_users FROM events),
    p AS (
        SELECT a.event_type AS ant, b.event_type AS cons, COUNT(*) AS n_ab
        FROM ut a JOIN ut b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY 1, 2
    )
    SELECT p.ant, p.cons,
           CAST(p.n_ab AS BIGINT) AS n_both,
           CAST(na.n_u AS BIGINT) AS n_ant,
           CAST(nb.n_u AS BIGINT) AS n_cons,
           CAST(tot.n_users AS BIGINT) AS n_users,
           CAST(p.n_ab AS DOUBLE) / CAST(tot.n_users AS DOUBLE) AS support,
           CAST(p.n_ab AS DOUBLE) / CAST(na.n_u AS DOUBLE) AS confidence,
           CAST(p.n_ab * tot.n_users AS DOUBLE)
               / CAST(na.n_u * nb.n_u AS DOUBLE) AS lift
    FROM p
    JOIN n na ON na.event_type = p.ant
    JOIN n nb ON nb.event_type = p.cons
    CROSS JOIN tot
    WHERE p.n_ab >= {_AR_MIN_AB}
    """,
    tags=("agg", "tiny-bnlj"),
    doc="Pairwise association rules over per-user event-type sets "
    "(the A-priori 2-itemset pass): support, confidence and lift for "
    "every co-occurring type pair — the feature-interaction / "
    "cross-sell read on the event log.  Exactness: counts are exact "
    "BIGINTs; each metric is ONE correctly-rounded division (lift's "
    "numerator n_ab*N and denominator n_a*n_b stay exact integers "
    "first — both < 2^63 up to ~3e9 users).  Scale shape: the "
    "per-user distinct projection shuffles once on user_id; the "
    "self-join is co-partitioned on the SAME key (no second "
    "shuffle), and per-user fan-out is bounded by the event-type "
    "vocabulary (pairs-per-user <= |V|^2/2, |V| small by design); "
    "the totals table is a one-row broadcast (tiny-bnlj).",
)
def assoc_rules_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    ut = ev.select("user_id", "event_type").distinct()
    n = ut.groupBy("event_type").agg(F.count("*").alias("n_u"))
    tot = ev.select(F.countDistinct("user_id").alias("n_users"))
    a, b = ut.alias("a"), ut.alias("b")
    p = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("ant"),
            F.col("b.event_type").alias("cons"),
        )
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= _AR_MIN_AB)
    )
    na = n.select(F.col("event_type").alias("ant"), F.col("n_u").alias("n_ant"))
    nb = n.select(F.col("event_type").alias("cons"), F.col("n_u").alias("n_cons"))
    return (
        p.join(F.broadcast(na), "ant")
        .join(F.broadcast(nb), "cons")
        .crossJoin(F.broadcast(tot))
        .select(
            "ant",
            "cons",
            F.col("n_ab").cast("long").alias("n_both"),
            F.col("n_ant").cast("long").alias("n_ant"),
            F.col("n_cons").cast("long").alias("n_cons"),
            F.col("n_users").cast("long").alias("n_users"),
            (F.col("n_ab").cast("double") / F.col("n_users").cast("double")).alias(
                "support"
            ),
            (F.col("n_ab").cast("double") / F.col("n_ant").cast("double")).alias(
                "confidence"
            ),
            (
                (F.col("n_ab") * F.col("n_users")).cast("double")
                / (F.col("n_ant") * F.col("n_cons")).cast("double")
            ).alias("lift"),
        )
    )


# --------------------------------------------------------------------------
# Quality-model calibration bins
# --------------------------------------------------------------------------


def _calibration_oracle_sql() -> str:
    return f"""
    WITH scored AS ({fixed_quality_oracle_sql()})
    SELECT CASE WHEN quality_score = 0 THEN 0
                WHEN quality_score > 0 THEN length(bin(quality_score))
                ELSE -length(bin(-quality_score)) END AS margin_bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(weak_label) AS BIGINT) AS n_weak_pos,
           CAST(SUM(CASE WHEN quality_keep THEN 1 ELSE 0 END) AS BIGINT)
               AS n_keep,
           CAST(SUM(weak_label) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
               AS frac_weak_pos,
           CAST(MIN(quality_score) AS BIGINT) AS min_margin,
           CAST(MAX(quality_score) AS BIGINT) AS max_margin
    FROM scored
    GROUP BY 1
    """


@register(
    "eval_quality_calibration",
    _calibration_oracle_sql(),
    tags=("textstats", "ml", "eval", "iterative"),
    doc="Calibration audit of the learned quality filter — the eval "
    "that belongs next to pipeline_learned_quality the way "
    "eval_pq_recall_trained sits next to the PQ retriever: perceptron "
    "margins bucketed into signed integer-log2 magnitude bins "
    "(ilog2 via bit-length — fp log2 is not cross-engine-stable; "
    "sign(m)*(ilog2(|m|)+1) with bin 0 RESERVED for margin 0, so "
    "margins -1 and +1 land in bins -1 and +1 instead of colliding "
    "at the origin (r11 ADVICE — sign is preserved at |m|=1 and the "
    "monotone-frac_weak_pos read is unblurred); a SCAN-STAGE binning, "
    "no global quantile window), and per bin the weak-label "
    "agreement rate (exact "
    "integer counts + one division), keep counts, and the exact "
    "margin extent.  Monotone frac_weak_pos across bins = the model "
    "orders docs consistently with its labels; a flat or reversed "
    "band is the red flag before trusting margin thresholds for "
    "curation.  Training is the shared fixed-point perceptron (one "
    "7-int driver collect per epoch); the binning adds one map-side "
    "combined aggregate over ~20 bins.",
)
def eval_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = fixed_point_quality(load_table(spark, "documents", sf_dir))
    qs = F.col("quality_score")
    # length(bin(x)) = ilog2(x) + 1: the +1 offset keeps bin 0 for
    # margin 0 only (sign preserved at |m| = 1)
    blen = lambda c: F.length(F.bin(c)).cast("long")  # noqa: E731
    mbin = (
        F.when(qs == 0, F.lit(0).cast("long"))
        .when(qs > 0, blen(qs))
        .otherwise(-blen(-qs))
    )
    return (
        scored.groupBy(mbin.alias("margin_bin"))
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("weak_label").cast("long").alias("n_weak_pos"),
            F.sum(F.col("quality_keep").cast("int")).cast("long").alias("n_keep"),
            (
                F.sum("weak_label").cast("double")
                / F.count("*").cast("double")
            ).alias("frac_weak_pos"),
            F.min("quality_score").cast("long").alias("min_margin"),
            F.max("quality_score").cast("long").alias("max_margin"),
        )
    )


# --------------------------------------------------------------------------
# Distribution drift between sources (total-variation distance)
# --------------------------------------------------------------------------

_TVD_BIN_W = 256
_TVD_MAX_BIN = 15


@register(
    "drift_tvd_sources",
    f"""
    WITH b AS (
        SELECT source,
               least(greatest(n_chars, 0) // {_TVD_BIN_W}, {_TVD_MAX_BIN}) AS bin,
               COUNT(*) AS n
        FROM documents GROUP BY 1, 2
    ),
    cor AS (SELECT bin, SUM(n) AS n_bin_all FROM b GROUP BY 1),
    st AS (SELECT source, SUM(n) AS n_src FROM b GROUP BY 1),
    tot AS (SELECT SUM(n) AS n_all FROM b)
    SELECT st.source, cor.bin,
           CAST(coalesce(b.n, 0) AS BIGINT) AS n_src_bin,
           CAST(cor.n_bin_all - coalesce(b.n, 0) AS BIGINT) AS n_rest_bin,
           CAST(abs(coalesce(b.n, 0) * (tot.n_all - st.n_src)
                    - (cor.n_bin_all - coalesce(b.n, 0)) * st.n_src)
                AS BIGINT) AS abs_scaled,
           CASE WHEN tot.n_all - st.n_src = 0 THEN 0.0
                ELSE CAST(abs(coalesce(b.n, 0) * (tot.n_all - st.n_src)
                         - (cor.n_bin_all - coalesce(b.n, 0)) * st.n_src)
                     AS DOUBLE)
                    / (2.0 * CAST(st.n_src AS DOUBLE)
                       * CAST(tot.n_all - st.n_src AS DOUBLE))
                END AS tvd_contrib
    FROM st
    CROSS JOIN cor
    CROSS JOIN tot
    LEFT JOIN b ON b.source = st.source AND b.bin = cor.bin
    """,
    tags=("agg", "drift", "tiny-bnlj"),
    doc="Per-source distribution drift as total-variation distance "
    "against the rest of the corpus: doc lengths into fixed "
    f"{_TVD_BIN_W}-char bins (capped at {_TVD_MAX_BIN}), and per "
    "(source, bin) the EXACT cross-multiplied numerator "
    "|n_bin_src*M - n_bin_rest*N| (integer — sums of these are "
    "order-free, unlike summing float |p-q| terms, which is why TVD "
    "is declared here instead of PSI whose ln(p/q) is not "
    "cross-engine-stable) plus the per-bin contribution as one "
    "division; summing tvd_contrib over bins gives the source's TVD "
    "in [0,1].  The drift gate a multi-source 100 TB ingest runs "
    "before mixing: a source whose length profile diverges from the "
    "corpus gets flagged per bin, not per anecdote.  Scale shape: "
    "one groupBy(source, bin) aggregate (map-side combined) and "
    "tiny-aggregate cross joins (sources x 16 bins — tiny-bnlj); "
    "overflow bound n_src*n_rest < 2^63 holds to ~3e9 docs per side "
    "(ANSI throws past it; the numerator moves to DOUBLE there).",
)
def drift_tvd_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    binc = F.least(
        F.expr(f"greatest(n_chars, 0) div {_TVD_BIN_W}"), F.lit(_TVD_MAX_BIN)
    ).cast("long")
    b = docs.groupBy("source", binc.alias("bin")).agg(F.count("*").alias("n"))
    cor = b.groupBy("bin").agg(F.sum("n").alias("n_bin_all"))
    st = b.groupBy("source").agg(F.sum("n").alias("n_src"))
    tot = b.agg(F.sum("n").alias("n_all"))
    grid = (
        st.crossJoin(F.broadcast(cor))
        .crossJoin(F.broadcast(tot))
        .join(b, ["source", "bin"], "left")
    )
    nsb = F.coalesce(F.col("n"), F.lit(0))
    nrb = F.col("n_bin_all") - nsb
    nrest = F.col("n_all") - F.col("n_src")
    absn = F.abs(nsb * nrest - nrb * F.col("n_src"))
    # degenerate single-source corpus: n_rest = 0 makes the contrib
    # 0/0 (NaN on Spark, engine-setting-dependent in DuckDB); a lone
    # source trivially has zero drift to compare against (r11 ADVICE)
    contrib = F.when(nrest == 0, F.lit(0.0)).otherwise(
        absn.cast("double")
        / (F.lit(2.0) * F.col("n_src").cast("double") * nrest.cast("double"))
    )
    return grid.select(
        "source",
        "bin",
        nsb.cast("long").alias("n_src_bin"),
        nrb.cast("long").alias("n_rest_bin"),
        absn.cast("long").alias("abs_scaled"),
        contrib.alias("tvd_contrib"),
    )
