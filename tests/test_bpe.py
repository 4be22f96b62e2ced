"""BPE tokenizer training: the Spark merge loop must reproduce an
independent pure-Python Sennrich implementation (same tie-break)
exactly — merges AND final segmentations.

Two Spark-side reference twins live here: ``bpe_train_spark_loop``
(the all-Spark merge loop, one Spark job per merge) cross-checks the
local merge loop of ``bpe_train``, and ``bpe_tokenize`` (the merge
rules compiled to a chain of lookaround regexes) cross-checks the
segmentation-lookup tokenizer of ``lm_bpe_tokenize_stats``."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F

from greenbuttonengine_spark.extensions.bpe import word_vocab


def py_bpe(vocab_counts, n_merges, min_pair_count=2):
    """Reference Sennrich BPE: vocab as {word: count}; ties break
    (count desc, pair asc)."""
    vocab = {tuple(w): c for w, c in vocab_counts.items()}
    merges = []
    for _ in range(n_merges):
        pairs = Counter()
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += c
        if not pairs:
            break
        (a, b), cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if cnt < min_pair_count:
            break
        merges.append((a, b, cnt))
        new_vocab = {}
        for syms, c in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + c
        vocab = new_vocab
    return merges, vocab


def _to_symbols(word_col):
    """' h e l l o ' — char symbols joined and padded with single
    spaces so literal pair replacement is anchor-safe."""
    return F.concat(
        F.lit(" "),
        F.concat_ws(" ", F.split(word_col, "")),
        F.lit(" "),
    )


def _quote_java(s: str) -> str:
    r"""Java-regex literal quoting, mirroring ``Pattern.quote``: wrap in
    \Q..\E and split any embedded literal '\E' so it cannot terminate
    the quote early (a symbol learned from web text CAN contain '\E';
    a single \Q..\E span would hand the remainder to the regex engine
    as raw pattern)."""
    return "\\Q" + s.replace("\\E", "\\E\\\\E\\Q") + "\\E"


def _pair_pattern(a: str, b: str) -> str:
    # lookarounds keep the boundary spaces UNconsumed so back-to-back
    # occurrences (' a a a a ') merge in one pass exactly like greedy
    # BPE — a literal ' a b '->' ab ' replace would eat the shared
    # separator and skip every second pair in a run.
    return f"(?<= )({_quote_java(a)}) ({_quote_java(b)})(?= )"


def _repl_escape(s: str) -> str:
    # Java replacement strings treat \ and $ as group references
    return s.replace("\\", "\\\\").replace("$", "\\$")


_SPARK_LOOP_MAX_MERGES = 64


def bpe_train_spark_loop(
    docs: DataFrame,
    n_merges: int = 10,
    text_col: str = "text",
    min_pair_count: int = 2,
) -> tuple[list[tuple[str, str, int]], DataFrame]:
    """The all-Spark merge loop, a cross-check for the local-incremental
    loop (1 aggregate + 1 collect + 1 vocab regexp_replace per merge =
    one Spark job PER MERGE; ``bpe_train``'s 3-job form is the real
    training path).  Capped so a test cannot launch hundreds of jobs.
    """
    if n_merges > _SPARK_LOOP_MAX_MERGES:
        raise ValueError(
            f"bpe_train_spark_loop launches one Spark job per merge and is "
            f"capped at {_SPARK_LOOP_MAX_MERGES} merges"
        )
    vocab = (
        word_vocab(docs, text_col)
        .withColumn("syms", _to_symbols(F.col("word")))
        .localCheckpoint(eager=False)
    )
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        syms_arr = F.split(F.trim(F.col("syms")), " ")
        pairs = (
            vocab.withColumn("__arr", syms_arr)
            .filter(F.size("__arr") >= 2)
            .select(
                F.col("n"),
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(__arr) - 1),"
                        " i -> struct(element_at(__arr, i) as a,"
                        "             element_at(__arr, i + 1) as b))"
                    )
                ).alias("p"),
            )
            .groupBy("p.a", "p.b")
            .agg(F.sum("n").cast("long").alias("cnt"))
        )
        top = pairs.orderBy(F.desc("cnt"), "a", "b").limit(1).collect()
        if not top or top[0].cnt < min_pair_count:
            break
        a, b, cnt = top[0].a, top[0].b, int(top[0].cnt)
        merges.append((a, b, cnt))
        pat = _pair_pattern(a, b)
        repl = _repl_escape(a + b)
        vocab = vocab.withColumn(
            "syms", F.regexp_replace(F.col("syms"), pat, repl)
        ).localCheckpoint(eager=False)
    return merges, vocab.select("word", "n", "syms")


def bpe_tokenize(
    docs: DataFrame,
    merges: list[tuple[str, str, int]] | list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply a learned merge sequence: (id, tokens array<string>,
    n_tokens) per document — the inference half of BPE.

    The merge rules compile into a fixed chain of per-word
    regexp_replace expressions inside one ``transform`` lambda (the
    same lookaround/greedy semantics training used), so tokenization
    is a single scan-stage projection: no shuffle, no Python, no
    per-row interpretation — the rule program IS the Catalyst
    expression tree, exactly how a trained tokenizer should ship to a
    100 TB corpus.  Word boundaries are preserved (BPE merges never
    cross words, matching training's per-word vocabulary).
    """
    words = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")

    def merge_word(w):
        s = F.concat(F.lit(" "), F.concat_ws(" ", F.split(w, "")), F.lit(" "))
        for m in merges:
            a, b = m[0], m[1]
            s = F.regexp_replace(s, _pair_pattern(a, b), _repl_escape(a + b))
        return F.split(F.trim(s), " ")

    toks = F.flatten(
        F.transform(F.filter(words, lambda w: w != ""), merge_word)
    )
    return docs.select(
        F.col(id_col),
        toks.alias("tokens"),
        F.size(toks).cast("long").alias("n_tokens"),
    )



def test_bpe_train_matches_python_reference(spark):
    import random

    from greenbuttonengine_spark.extensions.bpe import bpe_train

    rng = random.Random(17)
    words = ["low", "lower", "newest", "widest", "newer", "widely",
             "lowest", "news", "wide", "nest"]
    corpus = [rng.choice(words) for _ in range(300)]
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=w) for i, w in enumerate(corpus)])

    merges, vocab = bpe_train(docs, n_merges=12)
    counts = Counter(corpus)
    ref_merges, ref_vocab = py_bpe(counts, 12)
    assert merges == ref_merges

    got_seg = {r.word: tuple(r.syms.split()) for r in vocab.collect()}
    ref_seg = {}
    for syms, c in ref_vocab.items():
        ref_seg["".join(syms)] = syms
    assert got_seg == ref_seg


def test_bpe_classic_example_and_merge_table(spark):
    from greenbuttonengine_spark.extensions.bpe import bpe_merge_table

    corpus = ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=w) for i, w in enumerate(corpus)])
    rows = [(r.step, r.merged, r.weighted_count)
            for r in bpe_merge_table(docs, n_merges=4).collect()]
    # greedy order on this vocabulary: es(9), est(9), lo(7), low(7)
    assert rows == [(1, "es", 9), (2, "est", 9), (3, "lo", 7), (4, "low", 7)]


def test_bpe_overlapping_run_merges_greedily(spark):
    """'a a a a' must merge left-to-right: (aa)(aa), then (aaaa) —
    the literal-replace implementation matches greedy BPE on runs."""
    from greenbuttonengine_spark.extensions.bpe import bpe_train

    docs = spark.createDataFrame([Row(doc_id=i, text="aaaa")
                                  for i in range(3)])
    merges, vocab = bpe_train(docs, n_merges=3)
    assert [(m[0], m[1]) for m in merges] == [("a", "a"), ("aa", "aa")]
    assert vocab.collect()[0].syms.strip() == "aaaa"


def test_bpe_metacharacter_symbols(spark):
    """Symbols containing regex/replacement metacharacters ($, \\, .)
    must merge correctly — the pattern is \\Q-quoted and the
    replacement escaped."""
    from pyspark.sql import Row

    from greenbuttonengine_spark.extensions.bpe import bpe_train

    docs = spark.createDataFrame([Row(doc_id=i, text="$5.")
                                  for i in range(4)])
    merges, vocab = bpe_train(docs, n_merges=2)
    assert [(m[0], m[1]) for m in merges] == [("$", "5"), ("$5", ".")]
    assert vocab.collect()[0].syms.strip() == "$5."


def test_bpe_tokenize_matches_trained_segmentation(spark):
    """Applying the learned merges to the TRAINING corpus must
    reproduce exactly the segmentation training ended with, word for
    word — train/apply consistency (the tokenizer-shipping contract)."""
    import random

    from greenbuttonengine_spark.extensions.bpe import bpe_train

    rng = random.Random(23)
    words = ["low", "lower", "newest", "widest", "newer", "wide"]
    corpus = [" ".join(rng.choice(words) for _ in range(5))
              for _ in range(40)]
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(corpus)])
    merges, vocab = bpe_train(docs, n_merges=8)
    seg = {r.word: r.syms.split() for r in vocab.collect()}

    out = {r.doc_id: list(r.tokens)
           for r in bpe_tokenize(docs, merges).collect()}
    for i, text in enumerate(corpus):
        expect = [t for w in text.split() for t in seg[w]]
        assert out[i] == expect, (i, out[i], expect)


def test_bpe_local_loop_matches_spark_loop(spark):
    """The scale-shaped driver-local merge loop (bpe_train) and the
    all-Spark loop (bpe_train_spark_loop, above) must learn identical
    merge sequences and segmentations — the cross-check that lets the
    local loop own the training path."""
    import random

    from greenbuttonengine_spark.extensions.bpe import bpe_train

    rng = random.Random(41)
    words = ["low", "lower", "newest", "widest", "est", "blow",
             "widely", "news", "lowly", "wider"]
    corpus = [" ".join(rng.choice(words) for _ in range(4))
              for _ in range(120)]
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(corpus)])

    merges_local, vocab_local = bpe_train(docs, n_merges=10)
    merges_spark, vocab_spark = bpe_train_spark_loop(docs, n_merges=10)
    assert merges_local == merges_spark
    seg_local = {r.word: r.syms.split() for r in vocab_local.collect()}
    seg_spark = {r.word: r.syms.split() for r in vocab_spark.collect()}
    assert seg_local == seg_spark


def test_bpe_many_merges_incremental_vs_reference(spark):
    """300 merges over a synthetic 60-word weighted vocab: the
    incremental lazy-heap loop must track the O(vocab)-per-merge
    reference exactly (this is where stale-heap or delta-accounting
    bugs would surface)."""
    import random

    from greenbuttonengine_spark.extensions.bpe import (
        _merge_loop_local_incremental,
    )

    rng = random.Random(7)
    alpha = "abcdef"
    vocab_counts = []
    seen = set()
    while len(vocab_counts) < 60:
        w = "".join(rng.choice(alpha) for _ in range(rng.randint(3, 12)))
        if w in seen:
            continue
        seen.add(w)
        vocab_counts.append((tuple(w), rng.randint(1, 50)))

    merges, seg = _merge_loop_local_incremental(vocab_counts, 300, 1)
    ref_merges, ref_vocab = py_bpe(
        {"".join(s): c for s, c in vocab_counts}, 300, 1)
    assert merges == ref_merges
    ref_seg = {"".join(s): s for s in ref_vocab}
    assert seg == ref_seg


def test_tokenize_stats_lookup_matches_regex_chain(spark):
    """r16 twin: lm_bpe_tokenize_stats now tokenizes by joining the
    trained vocabulary segmentation instead of replaying the merge
    regex program per word occurrence.  Pin the per-lang stats of the
    lookup form against a recomputation through bpe_tokenize (the
    regex-chain form, above) on the sf0.001 corpus — identical rows."""
    from pyspark.sql import functions as F

    from greenbuttonengine_spark.extensions.bpe import bpe_train
    from greenbuttonengine_spark.plans.wave5_queries import lm_bpe_tokenize_stats
    from greenbuttonengine_spark.sources.catalog import load_table

    sf_dir = "/root/testdata/sf0.001"
    docs = load_table(spark, "documents", sf_dir)
    merges, _ = bpe_train(docs, n_merges=20)
    toks = bpe_tokenize(docs, merges)
    old = (
        docs.select("doc_id", "lang", "n_chars")
        .join(toks, "doc_id")
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.when(
                F.sum("n_tokens") > 0,
                F.sum("n_chars").cast("double")
                / F.sum("n_tokens").cast("double"),
            ).alias("chars_per_token"),
        )
    )
    new = lm_bpe_tokenize_stats(spark, sf_dir)
    key = lambda r: r.lang  # noqa: E731
    old_rows = sorted(old.collect(), key=key)
    new_rows = sorted(new.collect(), key=key)
    assert [r.asDict() for r in old_rows] == [r.asDict() for r in new_rows]
