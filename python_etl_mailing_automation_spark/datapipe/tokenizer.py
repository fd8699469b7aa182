"""Tokenizer training — byte-pair-encoding merge learning (Sennrich et
al. 2016) over the word-frequency compression of a corpus, the step
every LLM data pipeline runs before it can count a single token.

Iterative-algorithm shape (the house discipline, same as
:mod:`.clustering`'s Lloyd fit and :mod:`.graph`'s PageRank): the
corpus is scanned ONCE into a ``(word, freq)`` table — the classic BPE
compression, vocabulary-sized, not corpus-sized — and every merge
round runs over that small frame: one pair-count aggregate, one
driver-collected top pair (a single row per round), one column-level
merge application. At 100 TB the corpus scan dominates and everything
after is vocabulary-bounded.

Merge application is the TEXTBOOK greedy left-to-right fold — a
single-pass string ``replace`` is NOT equivalent ('a a a a' under
merge (a,a) must become '(aa) (aa)', but replace's resume-after-match
scan yields '(aa) a a') — implemented as a Catalyst ``aggregate``
higher-order fold over the symbol array: if the accumulator's last
symbol is the merge's left and the next symbol its right, pop and push
the merged symbol. Deterministic, engine-mirrorable (the oracle runs
the identical fold as a recursive CTE), and JVM-side — no Python UDF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..detach import detach

# Merges folded per Catalyst expression between two ``detach`` barriers.
MERGE_BATCH = 16


def word_frequencies(
    df: DataFrame, text_col: str, *, min_freq: int = 1
) -> DataFrame:
    """Whitespace-token frequency table ``(word, freq)`` — the
    corpus-to-vocabulary compression BPE trains on. One explode + one
    keyed aggregate; NULL texts and empty tokens are dropped."""
    return (
        df.select(
            F.explode(F.split(F.col(text_col), r"\s+")).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
        .filter(F.col("freq") >= min_freq)
    )


def _sql_quote(sym: str) -> str:
    return sym.replace("\\", "\\\\").replace("'", "\\'")


def _pair_counts(words: DataFrame) -> DataFrame:
    """Adjacent-symbol pair counts weighted by word frequency.

    ``seq`` is the symbol ARRAY (round 10: previously a space-joined
    string, re-``split`` FIVE times per evaluation — twice per element
    inside the transform lambda, where free expressions re-evaluate
    per element; keeping the array end-to-end makes every access an
    attribute element lookup)."""
    return (
        words.filter(F.size(F.col("seq")) >= 2)
        .select(
            "freq",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(seq) - 1),"
                    " i -> struct(element_at(seq, i) AS lhs,"
                    "             element_at(seq, i + 1) AS rhs))"
                )
            ).alias("__p"),
        )
        .groupBy(F.col("__p.lhs").alias("lhs"), F.col("__p.rhs").alias("rhs"))
        .agg(F.sum("freq").cast("long").alias("pair_count"))
    )


def bpe_train(
    df: DataFrame,
    text_col: str,
    *,
    n_merges: int = 5,
    min_freq: int = 1,
    batch_k: int = 8,
) -> DataFrame:
    """Learn ``n_merges`` BPE merges from the corpus. Returns the
    ordered merge table ``(rank int, lhs string, rhs string,
    pair_count long)`` — rank 1 is the first (most frequent) merge;
    ``pair_count`` is the frequency-weighted count at the time the
    merge was chosen. Ties break on (lhs, rhs) ascending, so the merge
    sequence is fully deterministic.

    Driver traffic: one top-``batch_k`` collect per ROUND, and each
    round accepts as many merges from that one snapshot as are
    PROVABLY identical to the strict sequential greedy (the oracle
    semantics — the result never depends on batch_k):

    - accepted merges are a symbol-disjoint PREFIX of the ranked
      snapshot — applying one cannot change another's count (their
      adjacencies share no symbol). A SELF-pair (lhs == rhs) ends the
      prefix without being accepted: its merge creates (ab,a)-style
      pairs bounded by its OWN count rather than by the stop count, so
      nothing ranked below it is provably next — it re-enters (and,
      when it tops the snapshot, is accepted alone via the top-1
      fallback) after a recount;
    - every pair a merge CAN touch shares a symbol with it: decreased
      pairs literally do, and a created pair (x, ab) is bounded by the
      old (x, a) count — a conflicted snapshot pair. All conflicted
      pairs rank at or below the stop point (else the prefix would
      have stopped earlier), so truncating the accepted list to
      counts STRICTLY above the stop count (and above the last seen
      count when the window exhausts — unseen pairs can tie it) makes
      every accepted merge outrank anything the earlier merges could
      have created or grown, exactly as sequential recounting would;
    - a tie that empties the truncation falls back to the single top
      pair, which is sequential greedy by definition.

    Rounds repeat until ``n_merges`` accepted or pairs run out, so the
    sync count is n_merges / accepted-per-round (1 in the worst,
    all-conflicting case). Each round cuts the symbol-sequence lineage
    with ``detach``.
    """
    if n_merges < 1:
        raise ValueError("bpe_train: n_merges must be >= 1")
    if batch_k < 1:
        raise ValueError("bpe_train: batch_k must be >= 1")
    words = word_frequencies(df, text_col, min_freq=min_freq).select(
        "word",
        "freq",
        # symbol ARRAY, not a joined string — see _pair_counts
        F.expr(
            "transform(sequence(1, length(word)),"
            " i -> substring(word, i, 1))"
        ).alias("seq"),
    )
    # materializes during round 1's pair count; without this, round 2's
    # action re-scans the corpus to realize round 1's lazy checkpoint
    # (two corpus scans instead of one)
    words = detach(words)
    merges: list[tuple[int, str, str, int]] = []
    while len(merges) < n_merges:
        top = (
            _pair_counts(words)
            .orderBy(
                F.col("pair_count").desc(), F.col("lhs").asc(), F.col("rhs").asc()
            )
            .limit(batch_k)
            .collect()
        )
        if not top:
            break
        used: set[str] = set()
        accepted: list = []
        stop_count = None
        for row in top:
            # stop on the first pair NOT accepted — over budget,
            # symbol-conflicted, or a SELF-pair. Every unaccepted pair
            # (this one and all ranked after) has count <= its count,
            # which bounds anything the accepted merges can create or
            # grow. A self-pair (lhs == rhs) is a barrier even when
            # disjoint: merging (a,a) over a run of a's creates
            # (aa,a)/(aa,aa) pairs bounded by the self-pair's OWN
            # count — not by anything ranked below it — so no later
            # snapshot pair is provably next; recount before going on.
            # (When the self-pair tops the snapshot, the safe-prefix
            # truncation empties and the top-1 fallback accepts it
            # alone, which is sequential greedy by definition.)
            if (
                len(merges) + len(accepted) >= n_merges
                or ({row.lhs, row.rhs} & used)
                or row.lhs == row.rhs
            ):
                stop_count = row.pair_count
                break
            accepted.append(row)
            used |= {row.lhs, row.rhs}
        else:
            # window exhausted conflict-free. A FULL window means
            # unseen pairs may tie the last seen count — guard like a
            # conflict; a short window saw every remaining pair, so no
            # guard is needed.
            if len(top) == batch_k:
                stop_count = top[-1].pair_count
        if stop_count is not None:
            safe = [r for r in accepted if r.pair_count > stop_count]
            # a tie at the very top: fall back to plain sequential
            accepted = safe if safe else [top[0]]
        for row in accepted:
            merges.append((len(merges) + 1, row.lhs, row.rhs, row.pair_count))
            ql, qr = _sql_quote(row.lhs), _sql_quote(row.rhs)
            qm = _sql_quote(row.lhs + row.rhs)
            words = words.select(
                "word",
                "freq",
                F.expr(
                    "aggregate(seq,"
                    " cast(array() as array<string>),"
                    " (acc, x) -> CASE WHEN size(acc) > 0"
                    f" AND element_at(acc, -1) = '{ql}' AND x = '{qr}'"
                    f" THEN concat(slice(acc, 1, size(acc) - 1), array('{qm}'))"
                    " ELSE concat(acc, array(x)) END)"
                ).alias("seq"),
            )
        words = detach(words)
    spark = df.sparkSession
    return spark.createDataFrame(
        merges, "rank int, lhs string, rhs string, pair_count long"
    )


def bpe_segment(
    df: DataFrame,
    text_col: str,
    merges: DataFrame,
    *,
    out_col: str = "tokens",
) -> DataFrame:
    """Apply a learned merge table to tokenize ``text_col``: each
    whitespace word is exploded to characters and every merge is
    folded over it in rank order. Returns ``df`` with ``out_col`` as
    an array of subword tokens.

    The merge table is collected to the driver (vocabulary-sized by
    construction) and compiled into chained Catalyst fold expressions
    — no joins, no UDFs. Merges are applied in ``MERGE_BATCH`` chunks
    with a ``detach`` barrier between chunks: a single
    expression nesting one ``aggregate`` per merge would grow the
    Catalyst tree linearly in vocabulary size and overflow the
    analyzer/codegen stack at real merge counts (thousands), and
    Catalyst's CollapseProject would re-fuse consecutive projections
    back into that deep tree — the materialization barrier is what
    actually caps the depth. The per-word symbol lists stay
    nested (``array<array<string>>``) between batches so merges can
    never cross word boundaries; the flatten happens once at the end.
    """
    ordered = [(r.lhs, r.rhs) for r in merges.orderBy("rank").collect()]
    work = df.withColumn(
        "__wsyms",
        F.expr(
            f"transform(filter(split({text_col}, '\\\\s+'), x -> x != ''),"
            " __w -> transform(sequence(1, length(__w)),"
            " i -> substring(__w, i, 1)))"
        ),
    )
    for start in range(0, len(ordered), MERGE_BATCH):
        expr = "__inner"
        for lhs, rhs in ordered[start : start + MERGE_BATCH]:
            ql, qr = _sql_quote(lhs), _sql_quote(rhs)
            qm = _sql_quote(lhs + rhs)
            expr = (
                f"aggregate({expr}, cast(array() as array<string>),"
                " (acc, x) -> CASE WHEN size(acc) > 0"
                f" AND element_at(acc, -1) = '{ql}' AND x = '{qr}'"
                f" THEN concat(slice(acc, 1, size(acc) - 1), array('{qm}'))"
                " ELSE concat(acc, array(x)) END)"
            )
        work = work.withColumn(
            "__wsyms", F.expr(f"transform(__wsyms, __inner -> {expr})")
        )
        if start + MERGE_BATCH < len(ordered):
            work = detach(work)
    return work.withColumn(out_col, F.flatten(F.col("__wsyms"))).drop(
        "__wsyms"
    )


def bpe_segment_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    merges: DataFrame,
    *,
    out_col: str = "tokens",
) -> DataFrame:
    """Vocabulary-join segmentation — the high-repetition fast path:
    fold the merges over each DISTINCT word once (a vocabulary-sized
    frame, same batched fold as :func:`bpe_segment`), then tokenize
    the corpus by exploding words with position, broadcast-joining the
    vocabulary, and re-assembling each document's token stream in word
    order. Semantically identical to :func:`bpe_segment` (merges never
    cross word boundaries); ~n_occurrences/n_distinct times cheaper
    when words repeat — natural corpora — at the cost of needing a
    row id and one shuffle for the per-document re-assembly.
    Documents with no words produce NO output row (left-join the
    result back if empty token arrays matter to the consumer).
    """
    vocab = word_frequencies(df, text_col).select("word").withColumn(
        "__wsyms",
        F.expr(
            "array(transform(sequence(1, length(word)),"
            " i -> substring(word, i, 1)))"
        ),
    )
    ordered = [(r.lhs, r.rhs) for r in merges.orderBy("rank").collect()]
    for start in range(0, len(ordered), MERGE_BATCH):
        expr = "__inner"
        for lhs, rhs in ordered[start : start + MERGE_BATCH]:
            ql, qr = _sql_quote(lhs), _sql_quote(rhs)
            qm = _sql_quote(lhs + rhs)
            expr = (
                f"aggregate({expr}, cast(array() as array<string>),"
                " (acc, x) -> CASE WHEN size(acc) > 0"
                f" AND element_at(acc, -1) = '{ql}' AND x = '{qr}'"
                f" THEN concat(slice(acc, 1, size(acc) - 1), array('{qm}'))"
                " ELSE concat(acc, array(x)) END)"
            )
        vocab = vocab.withColumn(
            "__wsyms", F.expr(f"transform(__wsyms, __inner -> {expr})")
        )
        # same barrier rationale as bpe_segment: CollapseProject would
        # re-fuse the batches into one merge-count-deep expression
        if start + MERGE_BATCH < len(ordered):
            vocab = detach(vocab)
    vocab = vocab.select(
        "word", F.col("__wsyms")[0].alias("__toks")
    )
    exploded = df.select(
        F.col(id_col),
        F.posexplode(
            F.expr(f"filter(split({text_col}, '\\\\s+'), x -> x != '')")
        ).alias("__wpos", "word"),
    )
    # no broadcast hint: AQE broadcasts a small vocabulary on its own,
    # while a web-scale vocabulary (unbounded distinct words) falls back
    # to a shuffle join instead of breaking the 8 GB broadcast limit
    return (
        exploded.join(vocab, on="word")
        .groupBy(id_col)
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("__wpos", "__toks"))
                    ),
                    lambda s: s["__toks"],
                )
            ).alias(out_col)
        )
    )
