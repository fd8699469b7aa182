"""Text analysis operators over a document table.

Scale posture: everything is per-row column algebra (tokenize → array ops)
— embarrassingly parallel, no shuffle at all, full whole-stage codegen.
At 100 TB these run at parquet-scan speed.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Default marker words per language for the n-gram/stopword heuristic
# language identifier. Real deployments extend these lists via config.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of"),
    "es": ("el", "la", "los"),
    "de": ("der", "und", "das"),
}

STOPWORDS: tuple[str, ...] = ("the", "a", "of", "and", "to")


def spread_for_explode(df: DataFrame, *cols: str) -> DataFrame:
    """Rebalance before a compute-amplifying flatmap (shingle/n-gram
    explode, ~100× row amplification).

    Spark sizes scan partitions by INPUT bytes, which undercounts an
    exploding stage by the amplification factor: a table small enough to
    arrive as a handful of splits serializes the whole tokenize → shingle
    → explode chain onto those few cores (measured: the sf0.1 documents
    table is ONE split, so every shingle ran on one core — 40% of the
    blocked-jaccard wall clock). Repartitioning to the session's shuffle
    parallelism first moves only the raw rows, then the explode runs
    wide. No-op when the input already spans at least that many leaf
    files (a 100 TB scan has thousands — this never fires there).

    The probe is ``df.inputFiles()`` — resolved from the ANALYZED plan,
    so it never executes anything. The earlier ``df.rdd
    .getNumPartitions()`` probe was exact but, under AQE, converting a
    join/aggregate-bearing frame to an RDD materializes every upstream
    shuffle stage to finalize the adaptive plan — a full hidden
    execution of the input (measured 1.4–4.9 s on the semantic-curation
    chain, paid again by the eager checkpoint that followed). File count
    is a fuzzy proxy for split count (a pre-shuffled frame with few leaf
    files takes one redundant small shuffle; a single giant file that
    Spark would split still rebalances — harmless), but it is free, and
    both regimes that matter are right: tiny dev tables rebalance, wide
    production scans skip.
    """
    try:
        target = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except (ValueError, TypeError):
        # Some platforms set the conf to a non-integer (e.g. "auto");
        # the cluster's default parallelism is the honest fallback.
        target = df.sparkSession.sparkContext.defaultParallelism
    try:
        if len(df.inputFiles()) >= target:
            return df
    except Exception:
        # No file-based leaves (in-memory frames, Spark Connect quirks):
        # callers only invoke this on amplification-heavy paths, where
        # an unconditional rebalance is the safe default.
        pass
    return df.repartition(target, *cols) if cols else df.repartition(target)


def tokens_of(text_col: Column | str) -> Column:
    """Whitespace tokenization: trim then split on ``\\s+``."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.split(F.trim(c), r"\s+")


def token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Token + char counting (whitespace tokenizer)."""
    toks = tokens_of(text_col)
    return df.withColumn("n_tokens", F.size(toks).cast("long")).withColumn(
        "n_chars_calc", F.length(F.col(text_col)).cast("long")
    )


def _count_in_list(toks: Column, words: Sequence[str]) -> Column:
    word_arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda t: F.array_contains(word_arr, t))).cast("long")


def quality_score(
    df: DataFrame,
    text_col: str = "text",
    *,
    stopwords: Sequence[str] = STOPWORDS,
    max_stop_ratio: float = 0.3,
    min_tokens: int = 50,
) -> DataFrame:
    """Heuristic quality scoring: stopword ratio + length gates.

    Adds ``n_tokens``, ``n_stop``, ``stop_ratio`` and an ``is_quality``
    0/1 flag. All arithmetic is exact integer work followed by one
    division, so results are engine/platform deterministic.
    """
    toks = tokens_of(text_col)
    out = (
        df.withColumn("n_tokens", F.size(toks).cast("long"))
        .withColumn("n_stop", _count_in_list(toks, stopwords))
        .withColumn("stop_ratio", F.col("n_stop") / F.col("n_tokens"))
    )
    return out.withColumn(
        "is_quality",
        ((F.col("stop_ratio") <= max_stop_ratio) & (F.col("n_tokens") >= min_tokens))
        .cast("int"),
    )


_GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality(
    df: DataFrame,
    text_col: str = "text",
    *,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_word_frac: float = 0.8,
    min_stop_hits: int = 2,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    max_dup_line_frac: float = 0.3,
) -> DataFrame:
    """The Gopher / MassiveText document-quality rule set (Rae et al.
    2021, §A1.1 of the Gopher paper; the same rules Dolma/RefinedWeb
    reuse) as one scan of pure column algebra — per-rule measures, one
    boolean per rule, and the conjunction ``gopher_pass``.

    Rules (all thresholds are the published defaults, overridable per
    corpus): word count in [min_words, max_words]; mean word length in
    [3, 10]; symbol-to-word ratio (``#`` chars and ``...`` runs) at most
    0.1; at least 80% of words contain an alphabetic character; at
    least 2 of the 8 designated stop words present; at most 90% of
    lines starting with a bullet; at most 30% of lines ending in an
    ellipsis; at most 30% of lines duplicated within the document.

    Cross-engine exactness: every measure is integer counting
    (lengths, filtered-list sizes, replace-length deltas) followed by
    one double division, so flags are bit-reproducible on any engine —
    the same discipline as :func:`quality_score`.

    Scale: zero shuffles, zero UDFs — one whole-stage-codegen scan; the
    standard first gate of a crawl-curation pipeline, upstream of the
    (shuffling) dedup stages.
    """
    toks = tokens_of(text_col)
    text = F.col(text_col)
    lines = F.split(text, "\n")
    # NULL text ⇒ every measure and the verdict are NULL. Explicit guard
    # because with ANSI off `size(NULL)` is -1 (legacy sizeOfNull), which
    # would otherwise poison the ratios into plausible-looking numbers.
    present = text.isNotNull()
    n_words = F.when(present, F.size(toks)).cast("long")
    n_lines = F.when(present, F.size(lines)).cast("long")
    sum_word_len = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
    )
    n_hash = F.length(text) - F.length(F.replace(text, F.lit("#"), F.lit("")))
    n_ellipsis = (
        F.length(text) - F.length(F.replace(text, F.lit("..."), F.lit("")))
    ) / F.lit(3)
    n_alpha_words = F.size(
        F.filter(toks, lambda w: w.rlike("[A-Za-z]"))
    ).cast("long")
    stop_arr = F.array(*[F.lit(w) for w in _GOPHER_STOPWORDS])
    # array_intersect, not filter(stop_arr, w -> array_contains(toks, w)):
    # the lambda re-evaluates `toks` (the tokenizer expression) once per
    # stopword, because lambda bodies are interpreted with no cross-
    # boundary subexpression elimination. array_intersect takes both
    # arrays as input positions — one evaluation each — and its result
    # (distinct stop words present, order irrelevant to size()) is
    # identical.
    stop_hits = F.when(
        present, F.size(F.array_intersect(stop_arr, toks))
    ).cast("long")
    n_bullet = F.size(
        F.filter(
            lines,
            lambda ln: ln.startswith("- ")
            | ln.startswith("* ")
            | ln.startswith("•"),
        )
    ).cast("long")
    n_ell_end = F.size(F.filter(lines, lambda ln: ln.endswith("..."))).cast(
        "long"
    )
    n_dup_lines = n_lines - F.size(F.array_distinct(lines)).cast("long")

    out = (
        df.withColumn("n_words", n_words)
        .withColumn(
            "mean_word_len",
            sum_word_len.cast("double") / n_words.cast("double"),
        )
        .withColumn(
            "symbol_ratio",
            (n_hash.cast("double") + n_ellipsis.cast("double"))
            / n_words.cast("double"),
        )
        .withColumn(
            "alpha_word_frac",
            n_alpha_words.cast("double") / n_words.cast("double"),
        )
        .withColumn("stop_hits", stop_hits)
        .withColumn(
            "bullet_line_frac",
            n_bullet.cast("double") / n_lines.cast("double"),
        )
        .withColumn(
            "ellipsis_line_frac",
            n_ell_end.cast("double") / n_lines.cast("double"),
        )
        .withColumn(
            "dup_line_frac",
            n_dup_lines.cast("double") / n_lines.cast("double"),
        )
    )
    return out.withColumn(
        "gopher_pass",
        (
            F.col("n_words").between(min_words, max_words)
            & F.col("mean_word_len").between(
                min_mean_word_len, max_mean_word_len
            )
            & (F.col("symbol_ratio") <= max_symbol_ratio)
            & (F.col("alpha_word_frac") >= min_alpha_word_frac)
            & (F.col("stop_hits") >= min_stop_hits)
            & (F.col("bullet_line_frac") <= max_bullet_line_frac)
            & (F.col("ellipsis_line_frac") <= max_ellipsis_line_frac)
            & (F.col("dup_line_frac") <= max_dup_line_frac)
        ).cast("int"),
    )


def lang_id(
    df: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Marker-word language identification.

    Scores each language by marker-token occurrences; prediction is the
    argmax over ``LANG_MARKERS`` with ties broken by dict order (first
    key wins: en ≺ es ≺ de), so results are deterministic. Adds
    ``score_<lang>`` columns and ``pred_lang``.

    The argmax is an ``array_max`` over ``struct(score, tie_rank, lang)``
    — struct ordering compares fields left to right, so the max struct
    carries the highest score, earliest-key-on-tie language. Pure column
    algebra; no UDF.
    """
    toks = tokens_of(text_col)
    out = df
    for lang, words in LANG_MARKERS.items():
        out = out.withColumn(f"score_{lang}", _count_in_list(toks, words))
    candidates = F.array(
        *[
            F.struct(
                F.col(f"score_{lang}").alias("score"),
                F.lit(-i).alias("tie_rank"),
                F.lit(lang).alias("lang"),
            )
            for i, lang in enumerate(LANG_MARKERS)
        ]
    )
    return out.withColumn("pred_lang", F.array_max(candidates)["lang"])


# Portable BPE-ish pre-tokenization pattern (letter runs / digit runs /
# single non-space symbols) — the shape GPT-2-style byte-pair encoders
# pre-split on, restricted to constructs that behave identically in Java
# regex and RE2 so counts are engine-portable.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bpe_ish_tokens(text_col: Column | str) -> Column:
    """BPE-style pre-tokenization: letter runs, digit runs, and individual
    symbols each become one token (so ``don't`` → 3, ``x2!`` → 3)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.regexp_extract_all(c, F.lit(BPE_ISH_PATTERN), 0)


def rolling_hash(text_col: Column | str, *, base: int = 31, mod: int = 2**31 - 1) -> Column:
    """Polynomial rolling hash over the document's code points:
    ``h = (h*base + codepoint) mod m`` — the classic Rabin-Karp document
    fingerprint, computed as a sequential fold (deterministic, and cheap
    enough to run at scan speed). Intermediate values stay far below 2^63
    (``mod * base + max_codepoint``), so long arithmetic is exact.
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    chars = F.split(c, "")
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * base + F.ascii(ch)) % mod,
    )


def featurize_hashing(
    df: DataFrame,
    *,
    dim: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "embedding",
) -> DataFrame:
    """Hashing-trick bag-of-words featurizer: token → md5 bucket
    (mod ``dim``), feature vector = per-bucket token counts as doubles
    — the model-free text representation that makes every embedding
    operator in this engine (k-means, SemDeDup, IVF, cosine search)
    applicable to a corpus with NO embedding column. md5 buckets keep
    the vector engine-reproducible (the same construction rebuilt in
    DuckDB produces identical doubles), unlike Spark's private
    ``HashingTF`` murmur buckets.

    Per-row column algebra: one fold over the token array maintaining a
    ``dim``-counter accumulator (``zip_with`` increment, O(dim) per
    token) — zero shuffle, scan speed, no vocabulary to fit or
    broadcast. Integer counts in double are exact, so downstream
    decimal-exact k-means stays oracle-checkable end to end.
    """
    buckets = F.transform(
        tokens_of(text_col),
        lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long")
        % F.lit(dim),
    )
    ks = F.sequence(F.lit(0), F.lit(dim - 1))
    counts = F.aggregate(
        buckets,
        F.transform(ks, lambda _: F.lit(0)),
        lambda acc, b: F.zip_with(
            acc,
            ks,
            lambda v, i: v + F.when(i == b.cast("int"), 1).otherwise(0),
        ),
        lambda acc: F.transform(acc, lambda v: v.cast("double")),
    )
    return df.select(F.col(id_col), counts.alias(out_col))


def doc_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Canonical document fingerprint: md5 of the sorted distinct token
    set. Word-order- and duplication-insensitive, so lightly shuffled or
    repeated documents collide — a cheap bag-of-words near-dup key.

    md5 (not an engine hash function) so fingerprints are identical across
    engines/runs — required for incremental dedup against an existing
    fingerprint store.
    """
    toks = tokens_of(text_col)
    return df.withColumn(
        "fingerprint",
        F.md5(F.array_join(F.array_sort(F.array_distinct(toks)), " ")),
    )


def repetition_metrics(
    df: DataFrame,
    text_col: str = "text",
    *,
    id_col: str = "doc_id",
    n: int = 2,
    dup_word_max: float = 0.9,
    top_gram_max: float = 0.2,
) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021 §A1.1):

    - ``dup_word_frac`` — fraction of tokens that are repeats of an
      earlier token (1 - distinct/total). Pure per-row array algebra.
    - ``top_{n}gram_frac`` — fraction of tokens covered by the single
      most frequent word n-gram. Computed distributed: explode n-grams →
      count per (doc, gram) → max per doc. Both aggregations get
      map-side partial combine (the exploded grams of a document stay in
      its input partition, so the (doc, gram) combine collapses to the
      per-doc distinct-gram set BEFORE the network — the reason we do
      NOT pre-repartition on doc id, which would ship raw grams). The
      (doc)-keyed second exchange is reused by the join back. Per-group
      state is O(one document's grams), never O(corpus): safe at 100 TB,
      unlike a per-row transform+filter quadratic in document length.
      The corpus is scanned twice (per-row metrics + a scan pruned to
      (id, text) for grams) — both at scan speed.
    - ``is_repetitive`` — either fraction over its threshold.

    Documents shorter than ``n`` tokens get ``top_{n}gram_frac = 0.0``.
    """
    gram_col = f"top_{n}gram_frac"
    toks = tokens_of(text_col)
    base = df.withColumn("__toks", toks).withColumn(
        "n_tokens", F.size("__toks").cast("long")
    )
    base = base.withColumn(
        "dup_word_frac",
        F.when(
            F.col("n_tokens") > 0,
            1.0 - F.size(F.array_distinct("__toks")) / F.col("n_tokens"),
        ).otherwise(F.lit(0.0)),
    )
    # n-grams: join each window of n consecutive tokens. sequence() is
    # guarded — sequence(0, -1) would COUNT DOWN in Spark.
    grams = F.when(
        F.size("__toks") >= n,
        F.transform(
            F.sequence(F.lit(1), F.size("__toks") - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice("__toks", i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    per_gram = (
        base.select(F.col(id_col), F.explode(grams).alias("__gram"))
        .groupBy(id_col, "__gram")
        .count()
    )
    per_doc = per_gram.groupBy(id_col).agg(F.max("count").alias("__max_gram"))
    out = base.drop("__toks").join(per_doc, on=id_col, how="left")
    out = out.withColumn(
        gram_col,
        F.coalesce(
            F.col("__max_gram") * n / F.col("n_tokens"), F.lit(0.0)
        ),
    ).drop("__max_gram")
    return out.withColumn(
        "is_repetitive",
        (
            (F.col("dup_word_frac") > dup_word_max)
            | (F.col(gram_col) > top_gram_max)
        ).cast("int"),
    )


def top_ngrams(
    df: DataFrame,
    *,
    n: int = 3,
    top_k: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-wide heavy-hitter word n-grams: the ``top_k`` most frequent
    n-grams with their occurrence and document counts — the standard
    boilerplate-discovery pass that feeds line/fingerprint stop-lists
    (e.g. the `max_df` cut in winnowing, the C4 frequent-line set).

    Scale shape: explode n-grams → one groupBy on the gram with map-side
    partial aggregation (a document's repeated grams collapse before the
    network); the exact distinct-document count rides the same shuffle
    via a two-level (gram, doc) pre-aggregate rather than a count-
    distinct expand. The final top-k is orderBy+limit, which Spark
    executes as TakeOrderedAndProject — per-partition heaps of k rows,
    never a global sort. Ties break on the gram string, so the result
    set is deterministic.
    """
    per_doc = (
        spread_for_explode(df, id_col)
        .select(
            F.col(id_col).alias("__doc"), tokens_of(text_col).alias("__toks")
        )
        .select(
            "__doc", F.explode(_word_ngrams(F.col("__toks"), n)).alias("gram")
        )
        .groupBy("gram", "__doc")
        .agg(F.count(F.lit(1)).alias("__occ"))
    )
    agged = per_doc.groupBy("gram").agg(
        F.sum("__occ").cast("long").alias("n_occurrences"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
    )
    return agged.orderBy(
        F.col("n_occurrences").desc(), F.col("gram")
    ).limit(top_k)


# Latin-1/Latin-Extended accent folding map (explicit, engine-portable —
# both Spark and DuckDB implement Postgres-style translate()).
_ACCENT_SRC = "áàâãäåéèêëíìîïóòôõöúùûüýÿçñÁÀÂÃÄÅÉÈÊËÍÌÎÏÓÒÔÕÖÚÙÛÜÝÇÑ"
_ACCENT_DST = "aaaaaaeeeeiiiiooooouuuuyycnAAAAAAEEEEIIIIOOOOOUUUUYCN"


def posting_lists(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 1,
) -> DataFrame:
    """Inverted index build: one row per term with its document
    frequency, total term frequency, and the ordered posting list —
    the retrieval-side complement of :func:`tfidf_topk` (that ranks
    terms per doc; this lists docs per term).

    Returns ``(term, df, total_tf, postings)`` with ``postings`` the
    ascending comma-joined doc ids (string form, the house convention
    for oracle-comparable lists).

    Scale shape: explode → (term, id) aggregate (map-side combined),
    then the ``min_df`` cut runs on the count-only frame *before* the
    posting arrays are built, so a cut term is never materialized as an
    array.
    """
    entries = spread_for_explode(df.select(id_col, text_col)).select(
        F.col(id_col), F.explode(tokens_of(text_col)).alias("term")
    )
    per_doc = entries.groupBy("term", id_col).agg(
        F.count(F.lit(1)).cast("long").alias("__tf")
    )
    freq = per_doc.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum("__tf").cast("long").alias("total_tf"),
    )
    freq = freq.filter(F.col("df") >= min_df)
    posts = (
        per_doc.join(freq.select("term"), on="term")
        .groupBy("term")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.col(id_col))),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("postings")
        )
    )
    return freq.join(posts, on="term")


def normalize_text(
    df: DataFrame,
    text_col: str = "text",
    *,
    out_col: str = "norm_text",
) -> DataFrame:
    """CCNet-style text canonicalization before exact/near dedup:
    lowercase → accent folding → punctuation strip → whitespace collapse.
    Adds ``out_col`` and ``norm_digest`` (md5 of the normalized text —
    the canonical exact-dedup key, portable across engines so it can be
    joined against historical fingerprint stores).

    Pure per-row string algebra: scan speed, no shuffle, whole-stage
    codegen. The accent fold is an explicit translate() map rather than
    ICU normalization so behavior is identical on every engine/platform.
    """
    c = F.lower(F.col(text_col))
    c = F.translate(c, _ACCENT_SRC.lower(), _ACCENT_DST.lower())
    c = F.regexp_replace(c, r"[^a-zA-Z0-9\s]", " ")
    c = F.trim(F.regexp_replace(c, r"\s+", " "))
    out = df.withColumn(out_col, c)
    return out.withColumn("norm_digest", F.md5(F.col(out_col)))


def chunk_documents(
    df: DataFrame,
    *,
    chunk_tokens: int = 128,
    overlap: int = 0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Fixed-token sliding-window chunking — the context-window splitter
    a RAG index or a long-document pretraining pipeline runs over every
    document.

    Chunk ``i`` covers tokens ``[i·stride, i·stride + chunk_tokens)``
    with ``stride = chunk_tokens - overlap``; the final chunk may be
    short. An empty document yields ONE empty chunk: the whitespace
    tokenizer maps ``""`` to a single empty token (Spark's ``split`` and
    DuckDB's ``string_split_regex`` agree), consistent with
    ``token_count`` across the battery. Output grain
    is one row per (document, chunk): ``chunk_idx``/``chunk_start``/
    ``n_chunk_tokens`` (bigint) and ``chunk_text`` (the chunk's tokens
    re-joined with single spaces).

    Scale: per-row array algebra (token split → start offsets →
    posexplode → slice) — no shuffle beyond the `spread_for_explode`
    rebalance; all arithmetic is integer, so the chunk grid is exact and
    engine-portable.
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    stride = chunk_tokens - overlap
    toks = tokens_of(text_col)
    n = F.size(toks)
    # sequence(0, n-1, stride): start offsets < n; empty when n == 0.
    starts = F.sequence(F.lit(0), n - 1, F.lit(stride))
    out = (
        spread_for_explode(df, id_col)
        .select(
            F.col(id_col),
            toks.alias("__toks"),
            F.posexplode(starts).alias("chunk_idx", "chunk_start"),
        )
        .select(
            F.col(id_col),
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            F.col("chunk_start").cast("long").alias("chunk_start"),
            F.slice(
                F.col("__toks"), F.col("chunk_start") + 1, F.lit(chunk_tokens)
            ).alias("__chunk"),
        )
    )
    return out.select(
        id_col,
        "chunk_idx",
        "chunk_start",
        F.size("__chunk").cast("long").alias("n_chunk_tokens"),
        F.concat_ws(" ", F.col("__chunk")).alias("chunk_text"),
    )


def tfidf_topk(
    df: DataFrame,
    *,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document top-``k`` salient terms under tf·idf ORDER — scored
    as ``tf / df``, which ranks identically to ``tf · idf(N, df)`` for
    any idf monotonically decreasing in ``df`` (N is a corpus-wide
    constant): the ratio form needs no corpus-count action and, unlike
    ``ln``-based idf, is a single IEEE division — bit-identical across
    engines, so the score column itself is oracle-checkable.

    Scale shape: explode → (doc, term) count with map-side combine →
    term document-frequency from the SAME distinct grain (no
    count-distinct expand) → term-keyed join (AQE broadcasts the df side
    when the vocabulary is small) → per-doc top-k window. Ties break on
    the term string, so the selected set is deterministic.
    """
    ex = spread_for_explode(df, id_col).select(
        F.col(id_col), F.explode(tokens_of(text_col)).alias("term")
    )
    tf = ex.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        tf.join(dfreq, "term")
        .withColumn("score", F.col("tf").cast("double") / F.col("df").cast("double"))
        .withColumn("tfidf_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("tfidf_rank") <= k)
        .select(id_col, "term", "tf", "df", "score", "tfidf_rank")
    )


def keyword_search(
    df: DataFrame,
    terms: Sequence[str],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
) -> DataFrame:
    """Conjunctive (AND) keyword retrieval over the corpus: documents
    containing EVERY query term, ranked by summed term frequency,
    top-``k`` with a deterministic id tiebreak. The query-evaluation
    side of :func:`posting_lists` — boolean retrieval with tf ranking,
    the exact-integer baseline a BM25 layer refines.

    Returns ``(id_col, score, n_terms)`` for at most ``k`` documents:
    ``score`` = Σ tf(term, doc) over the query terms (BIGINT — ranking
    never touches floats), ``n_terms`` = number of distinct query
    terms (constant, = len(terms); kept so downstream sees the AND
    arity it matched).

    Scale shape: the query-term set is a literal array filter applied
    AT THE EXPLODE — only matching (doc, term) rows survive the scan
    stage, so the aggregate state is bounded by |terms| · matching
    docs, never corpus vocabulary. The AND is a count-distinct-equals
    check inside the same groupBy, and the top-k is an
    ``orderBy().limit(k)`` — Spark plans TakeOrdered (per-partition
    heaps + one k-row merge), no global sort shuffle.
    """
    terms = list(dict.fromkeys(terms))
    if not terms or k < 1:
        raise ValueError("keyword_search: need >= 1 term and k >= 1")
    entries = spread_for_explode(df.select(id_col, text_col)).select(
        F.col(id_col), F.explode(tokens_of(text_col)).alias("__term")
    )
    hits = entries.filter(
        F.col("__term").isin([str(t) for t in terms])
    )
    scored = (
        hits.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("score"),
            F.countDistinct("__term").cast("long").alias("n_terms"),
        )
        .filter(F.col("n_terms") == len(terms))
    )
    return scored.orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    ).limit(k)


def collocations(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 3,
    top_k: int = 30,
) -> DataFrame:
    """Bigram collocation mining: rank adjacent word pairs by
    association strength — the phrase-discovery pass that feeds
    tokenizer vocabularies and boilerplate phrase lists. The score is
    the PMI lift ``p(xy) / (p(x)·p(y))`` kept as the exact integer
    rational ``c_xy·N_tok² / (N_big·c_x·c_y)`` — log-free, so the value
    (and therefore the ranking) is bit-identical cross-engine: one
    double division over two exact BIGINT products. (log(score) is
    monotone, so the log-PMI ranking is THIS ranking.)

    Scale shape: one bigram explode + one unigram explode, each a keyed
    count with map-side combine; the two corpus totals are one-row
    frames broadcast back; unigram counts join the bigram frame twice
    on the word — both sides are vocabulary-sized, orders of magnitude
    below corpus size, and the hot-key risk is capped because a
    bigram's count can never exceed its rarer word's. The final top-k
    is orderBy+limit → TakeOrderedAndProject per-partition heaps.

    Integer range: c_xy·N_tok² stays under int64 through corpus sizes
    of ~2M tokens with 100k-count bigrams; past that the same algebra
    should be re-cast to DECIMAL(38,0) (the house HUGEINT twin).
    """
    base = spread_for_explode(df, id_col).select(
        tokens_of(text_col).alias("__toks")
    )
    big = (
        base.select(
            F.explode(_word_ngrams(F.col("__toks"), 2)).alias("bigram")
        )
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).cast("long").alias("c_xy"))
        .filter(F.col("c_xy") >= min_count)
    )
    uni = (
        base.select(F.explode("__toks").alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("c_w"))
    )
    totals = uni.agg(
        F.sum("c_w").cast("long").alias("n_tok"),
    )
    n_big = base.select(
        F.sum(F.greatest(F.size("__toks") - 1, F.lit(0)))
        .cast("long")
        .alias("n_big")
    )
    split = F.split(F.col("bigram"), " ", 2)
    scored = (
        big.withColumn("w1", split.getItem(0))
        .withColumn("w2", split.getItem(1))
        .join(uni.select(F.col("word").alias("w1"), F.col("c_w").alias("c_x")), "w1")
        .join(uni.select(F.col("word").alias("w2"), F.col("c_w").alias("c_y")), "w2")
        .crossJoin(F.broadcast(totals))
        .crossJoin(F.broadcast(n_big))
        .withColumn(
            "lift",
            (F.col("c_xy") * F.col("n_tok") * F.col("n_tok")).cast("double")
            / (F.col("n_big") * F.col("c_x") * F.col("c_y")).cast("double"),
        )
    )
    return scored.select(
        "bigram", "c_xy", "c_x", "c_y", "lift"
    ).orderBy(F.col("lift").desc(), F.col("bigram")).limit(top_k)


def phrase_search(
    df: DataFrame,
    phrase: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact phrase retrieval via positional posting intersection: find
    every document containing the whitespace-tokenized ``phrase`` as a
    contiguous token run, with the match count and first position
    (1-based) — the inverted-index complement of :func:`keyword_search`
    (that matches ANY term; this matches the exact sequence).

    Scale shape: the positional postings are posexplode rows FILTERED
    to the phrase's terms before any shuffle (the selective IN
    predicate runs scan-side, so a 100 TB corpus contributes only its
    phrase-term occurrences). Term i's postings equi-join term 0's on
    (doc, pos + i) — len(phrase)-1 hash joins on (doc, position) keys,
    each side already collapsed to single-term postings; never a
    per-document array rescan of the corpus. Duplicate-free by
    construction: (doc, pos) is unique per term.
    """
    words = phrase.split()
    if not words:
        raise ValueError("phrase_search: empty phrase")
    toks = tokens_of(text_col)
    posts = (
        spread_for_explode(df, id_col)
        .select(F.col(id_col).alias("__doc"), F.posexplode(toks).alias("pos", "term"))
        .filter(F.col("term").isin(words))
        # 1-based positions: the cross-engine convention (DuckDB
        # list indexes are 1-based).
        .withColumn("pos", F.col("pos") + F.lit(1))
    )
    anchor = posts.filter(F.col("term") == words[0]).select("__doc", "pos")
    for i, w in enumerate(words[1:], start=1):
        nxt = posts.filter(F.col("term") == w).select(
            F.col("__doc"), (F.col("pos") - F.lit(i)).alias("pos")
        )
        anchor = anchor.join(nxt, on=["__doc", "pos"])
    return anchor.groupBy(F.col("__doc").alias(id_col)).agg(
        F.count(F.lit(1)).cast("long").alias("n_matches"),
        F.min("pos").cast("long").alias("first_pos"),
    )


def vocab_growth(
    df: DataFrame,
    doc_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Heaps-law vocabulary growth curve: scanning the corpus in
    ``doc_col`` order, the cumulative token count and cumulative
    DISTINCT-type count after each document — the curve whose log-log
    slope is Heaps' β, the standard diagnostic for corpus diversity
    (dedup collapse shows as a flattening curve; boilerplate floods
    show as sub-linear type growth against token growth).

    Never a running set: a token type contributes to the distinct
    count exactly at its FIRST document (min doc id), so the curve is
    (a) per-token min-aggregate → new-types-per-doc counts, (b)
    per-doc token counts, joined and prefix-summed. Docs with zero
    new types still appear (left join from the per-doc frame).

    Returns ``(doc_id, n_tokens, cum_tokens, new_types, cum_types)``.

    Scale shape: two keyed aggregates over the exploded tokens (the
    explode → keyed-agg discipline, no per-row sets), one join of two
    doc-cardinality frames, then a DISTRIBUTED global prefix via
    :func:`~.prefix.global_running_sums` — range buckets sampled from
    the RAW doc-id column (one pruned scan, never a second pass over
    the aggregate), per-bucket totals, broadcast offsets, within-bucket
    window only. No task ever sorts more than one bucket of the
    per-doc frame; the former single-partition ``Window.orderBy`` (the
    ``WindowExec: No Partition Defined`` warning in earlier bench
    tails) is gone.
    """
    from .prefix import global_running_sums

    toks = df.filter(
        F.col(doc_col).isNotNull() & (F.length(F.trim(F.col(text_col))) > 0)
    ).select(
        F.col(doc_col).alias("__d"),
        F.explode(tokens_of(F.col(text_col))).alias("__t"),
    ).filter(F.length("__t") > 0)
    per_doc = toks.groupBy("__d").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens")
    )
    first_seen = toks.groupBy("__t").agg(F.min("__d").alias("__d"))
    new_types = first_seen.groupBy("__d").agg(
        F.count(F.lit(1)).cast("long").alias("new_types")
    )
    # NOTE on the two plan branches (bucket totals + final join): both
    # contain the same aggregate subtree, and Spark's exchange reuse
    # computes it ONCE — measured round-10: detaching it with
    # localCheckpoint instead (breaking reuse, adding a store pass) ran
    # ~1.8x SLOWER at sf0.1. The only off-plan evaluation is the
    # boundary sample, which already rides the cheap raw column below.
    pre = per_doc.join(new_types, "__d", "left").select(
        "__d",
        "n_tokens",
        F.coalesce("new_types", F.lit(0)).cast("long").alias("new_types"),
    )
    return global_running_sums(
        pre,
        ["__d"],
        {"cum_tokens": "n_tokens", "cum_types": "new_types"},
        boundary_source=df.filter(F.col(doc_col).isNotNull()).select(
            F.col(doc_col).alias("__d")
        ),
    ).select(
        F.col("__d").alias(doc_col),
        "n_tokens",
        "cum_tokens",
        "new_types",
        "cum_types",
    )


def dictionary_phrase_matches(
    df: DataFrame,
    phrases: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    phrase_id_col: str = "phrase_id",
    phrase_col: str = "phrase",
) -> DataFrame:
    """Multi-pattern exact phrase matching: every occurrence of every
    dictionary phrase in every document, in ONE join + ONE aggregate —
    the blocklist/compliance/taxonomy matcher where
    :func:`phrase_search` handles a single phrase and a per-phrase
    loop would rescan the corpus |dictionary| times.

    The trick is offset alignment: a phrase occurrence starting at
    position s puts its k-th token at posting position s+k, so joining
    doc postings to phrase tokens ON THE TOKEN and grouping by
    (doc, phrase, candidate_start = pos - offset) counts how many of
    the phrase's positions matched — count == phrase length ⇔ a full
    contiguous occurrence (both sides are duplicate-free: (doc, pos)
    is unique per doc, (phrase, offset) per phrase; repeated tokens
    WITHIN a phrase stay sound because the count is over distinct
    offsets and a token matching two offsets lands in two different
    candidate_start groups). Returns per (doc, phrase):
    ``n_matches`` and ``first_pos`` (1-based).

    Scale shape: phrase tokens are dictionary-sized (broadcast); the
    corpus-side postings shuffle once on the join token — and only
    postings whose token APPEARS in the dictionary survive the join,
    so a selective dictionary touches a sliver of the corpus. The
    aggregate keys on (doc, phrase, start) — no windows, no per-doc
    array rescans, no |dictionary|× corpus passes.
    """
    toks = df.filter(
        F.col(id_col).isNotNull() & F.col(text_col).isNotNull()
    ).select(
        F.col(id_col).alias("__doc"),
        F.posexplode(tokens_of(F.col(text_col))).alias("__pos", "__tok"),
    ).filter(F.length("__tok") > 0)
    ptoks = phrases.filter(
        F.col(phrase_id_col).isNotNull() & F.col(phrase_col).isNotNull()
    ).select(
        F.col(phrase_id_col).alias("__pid"),
        F.posexplode(tokens_of(F.col(phrase_col))).alias("__off", "__tok"),
    ).filter(F.length("__tok") > 0)
    plen = ptoks.groupBy("__pid").agg(
        F.count(F.lit(1)).cast("long").alias("__len")
    )
    cand = (
        toks.join(F.broadcast(ptoks), "__tok")
        .select(
            "__doc",
            "__pid",
            (F.col("__pos") - F.col("__off")).alias("__start"),
        )
        .groupBy("__doc", "__pid", "__start")
        .agg(F.count(F.lit(1)).cast("long").alias("__hit"))
    )
    return (
        cand.join(F.broadcast(plen), "__pid")
        .filter((F.col("__hit") == F.col("__len")) & (F.col("__start") >= 0))
        .groupBy("__doc", "__pid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_matches"),
            (F.min("__start") + 1).cast("long").alias("first_pos"),
        )
        .select(
            F.col("__doc").alias(id_col),
            F.col("__pid").alias(phrase_id_col),
            "n_matches",
            "first_pos",
        )
    )


def rrf_fuse(
    df: DataFrame,
    score_cols: list[str],
    *,
    id_col: str = "doc_id",
    k: int = 60,
    top: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion of multiple ranking signals (Cormack et
    al. 2009): ``rrf = Σ_j 1/(k + rank_j)`` — the standard way to
    combine retrieval/quality scores whose SCALES don't compare (BM25
    vs embedding cosine vs quality heuristics) but whose RANKS do.
    Dense-rank variant: ties share a rank, so the fusion is a pure
    function of the score multiset (no arbitrary ordinal tie-break
    enters the result).

    Each signal's global descending dense rank is computed via the
    bucketed two-level prefix (:mod:`~.prefix` — never an
    unpartitioned window over the corpus); the fused score sums the
    ``len(score_cols)`` reciprocal terms in WRITTEN order (a fixed,
    data-independent float expression — deterministic). Output: the
    ``top`` rows by (rrf_score DESC, id) — a distributed top-k
    (TakeOrderedAndProject) — with each signal's rank kept for
    transparency: ``(id_col, rank_<col>..., rrf_score)``.

    Scale shape: one distinct + prefix per signal (signal count is
    small and fixed), equi-join-backs on the score value, one top-k.
    """
    from .suffix import _dense_rank_of

    out = df.select(id_col, *score_cols)
    rank_cols = []
    for c in score_cols:
        neg = F.negate(F.col(c).cast("double")).alias(f"__neg_{c}")
        keyed = out.select("*", neg)
        ranks = _dense_rank_of(keyed, [f"__neg_{c}"], f"rank_{c}")
        out = keyed.join(ranks, on=f"__neg_{c}").drop(f"__neg_{c}")
        rank_cols.append(f"rank_{c}")
    fused = None
    for rc in rank_cols:
        term = F.lit(1.0) / (F.lit(float(k)) + F.col(rc).cast("double"))
        fused = term if fused is None else fused + term
    return (
        out.select(id_col, *rank_cols, fused.alias("rrf_score"))
        .orderBy(F.col("rrf_score").desc(), F.col(id_col).asc())
        .limit(top)
    )


def bm25_topk(
    df: DataFrame,
    terms: Sequence[str],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
) -> DataFrame:
    """Disjunctive (OR) BM25 retrieval — the scored refinement of
    :func:`keyword_search`'s boolean AND, with the classic Okapi
    shape (k1 = 1.2, b = 0.75) made engine-exact by a **rational idf**:

        idf(t)     = (N − df_t + ½) / (df_t + ½)        [no log — the
                     Robertson-Sparck-Jones ratio itself; log is
                     monotone, so per-term orderings are identical
                     and the value is exactly computable]
        score(d,t) = idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))

    With k1 = 6/5, b = 3/4, avgdl = S/N (S = corpus token count),
    clearing denominators gives one exact integer ratio per (doc,
    term):

        score = (2N − 2df + 1)·22·S·tf
                ───────────────────────────────────
                (2df + 1)·(10·S·tf + 3·S + 9·dl·N)

    both sides DECIMAL(38,0) (DuckDB mirror: HUGEINT), one IEEE
    division each. The per-document total is a FIXED WRITTEN-ORDER sum
    over the literal query terms (terms sorted lexicographically, one
    COALESCE'd addend each — the :func:`rrf_fuse` discipline), so the
    result is bit-identical across engines and partitionings.

    Output: at most ``k`` rows — ``(id_col, score, n_terms)`` with
    ``n_terms`` the count of matched query terms; ties break on id.

    Scale shape: the literal term filter runs AT THE EXPLODE (only
    query-term postings survive the scan stage); doc lengths come from
    the same pre-explode projection; N and S are one corpus aggregate
    cross-joined as a single row (the sanctioned one-row idiom); the
    per-term pivot is a conditional aggregate keyed by doc — state
    bounded by |terms|; top-k is ``orderBy().limit(k)`` →
    TakeOrdered, never a global sort.
    """
    qterms = sorted(dict.fromkeys(str(t) for t in terms))
    if not qterms or k < 1:
        raise ValueError("bm25_topk: need >= 1 term and k >= 1")
    toks = spread_for_explode(df.select(id_col, text_col)).select(
        F.col(id_col), tokens_of(text_col).alias("__toks")
    )
    lens = toks.select(
        F.col(id_col), F.size("__toks").cast("long").alias("__dl")
    )
    corpus = lens.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("__N"),
        F.sum("__dl").cast("decimal(38,0)").alias("__S"),
    )
    hits = toks.select(
        F.col(id_col), F.explode("__toks").alias("__term")
    ).filter(F.col("__term").isin(qterms))
    tf = hits.groupBy(id_col, "__term").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("__tf")
    )
    dfreq = tf.groupBy("__term").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("__df")
    )
    d2 = F.lit(2).cast("decimal(38,0)")
    scored = (
        tf.join(dfreq, "__term")
        .join(lens, id_col)
        .crossJoin(F.broadcast(corpus))
        .select(
            F.col(id_col),
            F.col("__term"),
            (
                (
                    (d2 * F.col("__N") - d2 * F.col("__df") + 1)
                    * F.lit(22).cast("decimal(38,0)")
                    * F.col("__S")
                    * F.col("__tf")
                ).cast("double")
                / (
                    (d2 * F.col("__df") + 1)
                    * (
                        F.lit(10).cast("decimal(38,0)") * F.col("__S") * F.col("__tf")
                        + F.lit(3).cast("decimal(38,0)") * F.col("__S")
                        + F.lit(9).cast("decimal(38,0)")
                        * F.col("__dl").cast("decimal(38,0)")
                        * F.col("__N")
                    )
                ).cast("double")
            ).alias("__s"),
        )
    )
    per_doc = scored.groupBy(id_col).agg(
        *[
            F.max(F.when(F.col("__term") == t, F.col("__s"))).alias(
                f"__s_{i}"
            )
            for i, t in enumerate(qterms)
        ],
        F.count(F.lit(1)).cast("long").alias("n_terms"),
    )
    total = None
    for i in range(len(qterms)):
        addend = F.coalesce(F.col(f"__s_{i}"), F.lit(0.0))
        total = addend if total is None else total + addend
    return (
        per_doc.select(F.col(id_col), total.alias("score"), "n_terms")
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def ndcg_at_k(
    df: DataFrame,
    *,
    group_col: str,
    id_col: str,
    rel_col: str,
    score_col: str,
    k: int = 10,
) -> DataFrame:
    """NDCG@k of a per-group ranking: rank items by ``score_col``
    descending (id ascending tiebreak — the ranking under evaluation
    must be deterministic to be evaluable), take integer relevance
    grades from ``rel_col``, and score the list against the ideal
    ordering of the same grades — the retrieval-evaluation complement
    of :func:`rrf_fuse` (that builds a fused ranking; this grades one).

        DCG@k  = Σ_{r=1..k} rel_r / log2(r + 1)
        NDCG@k = DCG@k / IDCG@k      (IDCG: grades sorted descending)

    Engine-exactness: the k discounts ``1/log2(r+1)`` are **Python-
    evaluated literal doubles** baked into the plan (both engines parse
    the same shortest-roundtrip decimal literal to the same IEEE
    double — no engine ever computes a log), each addend is
    (exact BIGINT grade) × literal, and both sums are FIXED WRITTEN-
    ORDER k-term expressions — the :func:`rrf_fuse` discipline — so
    DCG, IDCG and their single final division are bit-identical across
    engines and partitionings. Groups with all-zero grades in the
    ideal top-k yield NULL ndcg.

    Output: one row per group — ``(group_col, n_items, dcg, idcg,
    ndcg)``.

    Scale shape: two ``row_number`` windows partitioned by the group
    (a task sorts one group's items), rank filter AT k before the
    pivot, then one conditional aggregate per group with 2k bounded
    accumulators. One shuffle grain, no unpartitioned window.
    """
    import math

    if k < 1:
        raise ValueError("ndcg_at_k: k must be >= 1")
    disc = [1.0 / math.log2(r + 1) for r in range(1, k + 1)]
    base = df.select(
        F.col(group_col),
        F.col(id_col).alias("__i"),
        F.col(rel_col).cast("long").alias("__rel"),
        F.col(score_col).alias("__sc"),
    ).filter(F.col("__rel").isNotNull())
    w_sys = Window.partitionBy(group_col).orderBy(
        F.col("__sc").desc(), F.col("__i").asc()
    )
    w_ideal = Window.partitionBy(group_col).orderBy(
        F.col("__rel").desc(), F.col("__i").asc()
    )
    ranked = base.select(
        group_col,
        "__rel",
        F.row_number().over(w_sys).alias("__rs"),
        F.row_number().over(w_ideal).alias("__ri"),
        # Group size BEFORE the rank cut — same partitioning as the
        # rank windows, so this adds no exchange.
        F.count(F.lit(1))
        .over(Window.partitionBy(group_col))
        .cast("long")
        .alias("__cnt"),
    ).filter((F.col("__rs") <= k) | (F.col("__ri") <= k))
    agg = ranked.groupBy(group_col).agg(
        F.max("__cnt").alias("__n"),
        *[
            F.max(
                F.when(F.col("__rs") == r + 1, F.col("__rel"))
            ).alias(f"__g{r}")
            for r in range(k)
        ],
        *[
            F.max(
                F.when(F.col("__ri") == r + 1, F.col("__rel"))
            ).alias(f"__h{r}")
            for r in range(k)
        ],
    )
    dcg = None
    idcg = None
    for r in range(k):
        a = F.coalesce(F.col(f"__g{r}").cast("double"), F.lit(0.0)) * F.lit(
            disc[r]
        )
        b = F.coalesce(F.col(f"__h{r}").cast("double"), F.lit(0.0)) * F.lit(
            disc[r]
        )
        dcg = a if dcg is None else dcg + a
        idcg = b if idcg is None else idcg + b
    return agg.select(
        group_col,
        F.col("__n").alias("n_items"),
        dcg.alias("dcg"),
        idcg.alias("idcg"),
        F.when(idcg > 0, dcg / idcg).alias("ndcg"),
    )


def simpson_diversity(
    df: DataFrame,
    *,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-group lexical diversity via the Simpson index — the
    LOG-FREE diversity measure (Shannon entropy needs per-type
    ``p·log p`` whose variable-order float sum no engine reproduces
    bit-for-bit; Simpson's is a pure rational):

        λ     = Σ_t c_t(c_t − 1) / (N(N − 1))   (repeat probability)
        D     = 1 − λ                           (Gini-Simpson)
        D_inv = N(N − 1) / Σ_t c_t(c_t − 1)     (effective type count)

    All accumulators are exact DECIMAL(38,0); the divisions and the
    fixed-order ``1 − λ`` are the only floats. Groups with N ≤ 1 or no
    repeated token yield NULLs where undefined. A corpus whose
    D_inv collapses is dominated by few types — the boilerplate /
    template-flood signal next to :func:`repetition_metrics` (that
    scores one document; this scores the mix).

    Output: one row per group — ``(group_col, n_tokens, n_types,
    simpson, inv_simpson)``.

    Scale shape: explode → (group, term) count with map-side combine →
    one per-group aggregate. Token frequencies never leave the keyed
    aggregate; no window, no join.
    """
    ex = spread_for_explode(df.select(group_col, text_col)).select(
        F.col(group_col), F.explode(tokens_of(text_col)).alias("__t")
    )
    counts = ex.groupBy(group_col, "__t").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("__c")
    )
    agg = counts.groupBy(group_col).agg(
        F.sum("__c").alias("__n"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(F.col("__c") * (F.col("__c") - 1)).alias("__ss"),
    )
    n, ss = F.col("__n"), F.col("__ss")
    lam = F.when(
        n > 1, ss.cast("double") / (n * (n - 1)).cast("double")
    )
    return agg.select(
        group_col,
        n.cast("long").alias("n_tokens"),
        "n_types",
        F.when(lam.isNotNull(), F.lit(1.0) - lam).alias("simpson"),
        F.when(
            (n > 1) & (ss > 0),
            (n * (n - 1)).cast("double") / ss.cast("double"),
        ).alias("inv_simpson"),
    )


def retrieval_metrics(
    df: DataFrame,
    *,
    group_col: str,
    id_col: str,
    rel_col: str,
    score_col: str,
    k: int = 10,
) -> DataFrame:
    """Per-group ranking metrics beyond NDCG: first-relevant rank /
    reciprocal rank (the MRR component), hits@k, precision@k and
    recall@k — the binary-relevance scorecard next to
    :func:`ndcg_at_k`'s graded one.

    Relevance is ``rel_col != 0``. The ranking under evaluation is
    ``score_col`` descending with an id tiebreak (deterministic by
    construction). Every metric is an exact BIGINT count or rank with
    ONE final IEEE division — bit-identical across engines and
    partitionings. Groups with no relevant item yield NULL
    ``first_rel_rank``/``rr``/``recall_at_k``.

    Output: one row per group — ``(group_col, n_items, n_rel,
    first_rel_rank, rr, hits_at_k, precision_at_k, recall_at_k)``.

    Scale shape: ONE ``row_number`` window partitioned by group, then
    one per-group aggregate (min / conditional sums) — single shuffle
    grain, bounded state, no unpartitioned window.
    """
    if k < 1:
        raise ValueError("retrieval_metrics: k must be >= 1")
    base = df.select(
        F.col(group_col),
        F.col(id_col).alias("__i"),
        (F.col(rel_col) != 0).cast("long").alias("__r"),
        F.col(score_col).alias("__sc"),
    )
    w = Window.partitionBy(group_col).orderBy(
        F.col("__sc").desc(), F.col("__i").asc()
    )
    ranked = base.select(
        group_col, "__r", F.row_number().over(w).cast("long").alias("__rk")
    )
    agg = ranked.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.sum("__r").cast("long").alias("n_rel"),
        F.min(F.when(F.col("__r") == 1, F.col("__rk"))).alias(
            "first_rel_rank"
        ),
        F.sum(F.when(F.col("__rk") <= k, F.col("__r")).otherwise(F.lit(0)))
        .cast("long")
        .alias("hits_at_k"),
    )
    return agg.select(
        group_col,
        "n_items",
        "n_rel",
        "first_rel_rank",
        F.when(
            F.col("first_rel_rank").isNotNull(),
            F.lit(1.0) / F.col("first_rel_rank").cast("double"),
        ).alias("rr"),
        "hits_at_k",
        (F.col("hits_at_k").cast("double") / F.lit(float(k))).alias(
            "precision_at_k"
        ),
        F.when(
            F.col("n_rel") > 0,
            F.col("hits_at_k").cast("double") / F.col("n_rel").cast("double"),
        ).alias("recall_at_k"),
    )


def vocab_overlap(
    df: DataFrame,
    *,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Pairwise vocabulary Jaccard between groups — the corpus-level
    similarity matrix (which sources speak the same language / share a
    template?), the group-granularity sibling of the per-document
    :func:`~.ssjoin` family:

        J(a, b) = |V_a ∩ V_b| / |V_a ∪ V_b|,  V_g = distinct terms of g

    All counts are exact BIGINTs; the union comes from the
    inclusion-exclusion identity |V_a|+|V_b|−|V_a∩V_b| (never a
    distinct over a unioned explode), and the single division is the
    only float. Pairs are emitted once (``group_a < group_b``) and only
    when the intersection is non-empty — a missing pair IS the zero
    (documented contract; a bounded group list can outer-fill
    downstream if zeros must be materialized).

    Output: ``(group_a, group_b, n_a, n_b, n_inter, jaccard)``.

    Scale shape: explode → DISTINCT (group, term) — the vocabulary
    grain, far smaller than the token stream — then a term-keyed
    self-join whose fan-out per term is bounded by the GROUP count
    (squared), not the corpus; per-group sizes broadcast back onto the
    bounded pair frame. One data-sized shuffle (the distinct), then
    group-cardinality algebra.
    """
    vocab = (
        spread_for_explode(df.select(group_col, text_col))
        .select(F.col(group_col).alias("__g"), F.explode(tokens_of(text_col)).alias("__t"))
        .distinct()
    )
    sizes = vocab.groupBy("__g").agg(F.count(F.lit(1)).cast("long").alias("__n"))
    a = vocab.select(F.col("__g").alias("group_a"), "__t")
    b = vocab.select(F.col("__g").alias("group_b"), "__t")
    inter = (
        a.join(b, "__t")
        .filter(F.col("group_a") < F.col("group_b"))
        .groupBy("group_a", "group_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_inter"))
    )
    out = (
        inter.join(
            F.broadcast(sizes.select(F.col("__g").alias("group_a"), F.col("__n").alias("n_a"))),
            "group_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("__g").alias("group_b"), F.col("__n").alias("n_b"))),
            "group_b",
        )
    )
    return out.select(
        "group_a",
        "group_b",
        "n_a",
        "n_b",
        "n_inter",
        (
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double")
        ).alias("jaccard"),
    )


def _word_ngrams(toks: Column, n: int) -> Column:
    """Array of space-joined word n-grams over ``toks`` (empty array
    when fewer than ``n`` tokens) — the shared gram derivation of
    :func:`top_ngrams` / :func:`rouge_n` / :func:`ngram_novelty`.

    ``toks`` MUST be a materialized tokens ATTRIBUTE (a real column
    from a lower projection), never the ``tokens_of`` expression
    inline: the ``slice`` inside the lambda re-evaluates its argument
    PER ELEMENT (higher-order lambdas are interpreted, no
    subexpression elimination crosses the lambda boundary), so an
    inline tokenizer runs once per gram — measured 3.7 s vs 0.7 s for
    the same gram build over the sf0.1 documents table."""
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def rouge_n(
    df: DataFrame,
    cand_col: str,
    ref_col: str,
    *,
    id_col: str = "doc_id",
    n: int = 2,
) -> DataFrame:
    """ROUGE-N with clipped counts per (candidate, reference) pair
    (Lin 2004) — the n-gram overlap scorecard for summarization /
    generation eval, and at n=1 the clipped unigram precision is
    BLEU-1's modified precision (Papineni et al. 2002), so one operator
    covers both families:

        overlap   = Σ_g min(count_cand(g), count_ref(g))
        precision = overlap / |cand grams|     (BLEU direction)
        recall    = overlap / |ref grams|      (ROUGE direction)
        f1        = 2pr / (p + r)

    Every count is an exact BIGINT off keyed aggregates; the metrics
    are single IEEE divisions and one fixed written-order f1 — bit-
    identical across engines and partitionings. A side with no n-grams
    (text shorter than n tokens) yields NULL for the metrics with a
    zero denominator; an empty OVERLAP with non-empty sides is a
    legitimate 0.0.

    Output: one row per id — ``(id_col, n_cand, n_ref, n_overlap,
    precision, recall, f1)``.

    Scale shape: union-merge, not join — both sides' grams leave ONE
    projection as side-tagged structs through ONE explode (a NULL-gram
    sentinel per pair keeps gram-less pairs alive with zero counts, so
    no spine join either), then two keyed aggregates: (id, gram) with
    map-side combine for the clipped min, and the id grain. One scan,
    zero joins — the first cut's two-explode + full-outer-join + spine
    shape re-executed the upstream pair join per consumer (6 scans in
    the plan).
    """
    if n < 1:
        raise ValueError("rouge_n: n must be >= 1")
    base = spread_for_explode(
        df.select(id_col, cand_col, ref_col), id_col
    ).select(
        F.col(id_col),
        tokens_of(cand_col).alias("__tc"),
        tokens_of(ref_col).alias("__tr"),
    )
    tag = lambda g, c, r: F.struct(  # noqa: E731
        g.alias("g"),
        F.lit(c).cast("long").alias("cc"),
        F.lit(r).cast("long").alias("cr"),
    )
    entries = F.concat(
        F.transform(_word_ngrams(F.col("__tc"), n), lambda g: tag(g, 1, 0)),
        F.transform(_word_ngrams(F.col("__tr"), n), lambda g: tag(g, 0, 1)),
        F.array(tag(F.lit(None).cast("string"), 0, 0)),  # the sentinel
    )
    rows = base.select(
        F.col(id_col), F.explode(entries).alias("__e")
    ).select(
        id_col,
        F.col("__e.g").alias("__g"),
        F.col("__e.cc").alias("__c"),
        F.col("__e.cr").alias("__r"),
    )
    per_gram = rows.groupBy(id_col, "__g").agg(
        F.sum("__c").alias("__cc"), F.sum("__r").alias("__cr")
    )
    per_id = per_gram.groupBy(id_col).agg(
        F.sum("__cc").cast("long").alias("n_cand"),
        F.sum("__cr").cast("long").alias("n_ref"),
        F.sum(F.least("__cc", "__cr")).cast("long").alias("n_overlap"),
    )
    ov = F.col("n_overlap").cast("double")
    p = F.when(F.col("n_cand") > 0, ov / F.col("n_cand").cast("double"))
    r = F.when(F.col("n_ref") > 0, ov / F.col("n_ref").cast("double"))
    f1 = F.when(
        p.isNotNull() & r.isNotNull() & (p + r > 0), 2.0 * p * r / (p + r)
    ).when(p.isNotNull() & r.isNotNull(), F.lit(0.0))
    return per_id.select(
        id_col, "n_cand", "n_ref", "n_overlap",
        p.alias("precision"), r.alias("recall"), f1.alias("f1"),
    )


def ngram_novelty(
    df_new: DataFrame,
    df_corpus: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Per-document n-gram novelty against a reference corpus — the
    memorization / regurgitation audit (what fraction of a generated
    document's distinct n-grams never appear in the training corpus?),
    the per-doc-ratio complement of the decontamination flaggers in
    :mod:`~.contamination`:

        novelty(d) = |grams(d) \\ grams(corpus)| / |grams(d)|

    Distinct-set semantics on both sides (a gram repeated in d counts
    once; the corpus is one big gram SET). Exact BIGINT counts, one
    division; documents with no n-grams (shorter than n tokens) are
    emitted with NULL novelty.

    Output: one row per new doc — ``(id_col, n_grams, n_novel,
    novelty)``.

    Scale shape: both sides explode to their DISTINCT gram grain
    (map-side collapse), then ONE gram-keyed LEFT ANTI join (new-doc
    grams against the corpus set — an equi-join on the gram, never an
    all-pairs comparison) and one re-aggregate to the doc grain; the
    doc spine restores gram-less docs. The corpus side is a distinct
    SET, so its size is the vocabulary, not the token stream.
    """
    if n < 1:
        raise ValueError("ngram_novelty: n must be >= 1")
    new_g = (
        spread_for_explode(df_new.select(id_col, text_col), id_col)
        .select(F.col(id_col), tokens_of(text_col).alias("__toks"))
        .select(
            F.col(id_col),
            F.explode(_word_ngrams(F.col("__toks"), n)).alias("__g"),
        )
        .distinct()
    )
    corpus_g = (
        df_corpus.select(tokens_of(text_col).alias("__toks"))
        .select(F.explode(_word_ngrams(F.col("__toks"), n)).alias("__g"))
        .distinct()
    )
    totals = new_g.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_grams")
    )
    novel = (
        new_g.join(corpus_g, "__g", "left_anti")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("long").alias("n_novel"))
    )
    spine = df_new.select(F.col(id_col)).distinct()
    out = (
        spine.join(totals, id_col, "left")
        .join(novel, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_grams", F.lit(0).cast("long")).alias("n_grams"),
            F.coalesce("n_novel", F.lit(0).cast("long")).alias("n_novel"),
        )
    )
    return out.select(
        id_col, "n_grams", "n_novel",
        F.when(
            F.col("n_grams") > 0,
            F.col("n_novel").cast("double") / F.col("n_grams").cast("double"),
        ).alias("novelty"),
    )


def distinct_ngram_ratio(
    df: DataFrame,
    *,
    group_col: str = "source",
    text_col: str = "text",
    n: int = 2,
) -> DataFrame:
    """Distinct-N diversity per group (Li et al. 2016's distinct-1/2):
    the share of a group's n-gram occurrences that are distinct types —
    the degeneracy alarm for synthetic/generated corpora (mode-collapsed
    generations repeat the same grams; ratio → 0):

        distinct_ratio = |distinct grams| / Σ occurrences

    Exact BIGINT counts off one two-level aggregate, one division.
    Groups whose texts are all shorter than n tokens report zero counts
    and NULL ratio.

    Output: one row per group — ``(group_col, n_occurrences,
    n_distinct, distinct_ratio)``.

    Scale shape: explode → (group, gram) aggregate with map-side
    combine (the :func:`top_ngrams` discipline), then one re-aggregate
    to the group grain; the group spine restores gram-less groups. No
    window, no join beyond the spine restore.
    """
    if n < 1:
        raise ValueError("distinct_ngram_ratio: n must be >= 1")
    per_gram = (
        spread_for_explode(df.select(group_col, text_col), group_col)
        .select(F.col(group_col), tokens_of(text_col).alias("__toks"))
        .select(
            F.col(group_col),
            F.explode(_word_ngrams(F.col("__toks"), n)).alias("__g"),
        )
        .groupBy(group_col, "__g")
        .agg(F.count(F.lit(1)).cast("long").alias("__occ"))
    )
    agged = per_gram.groupBy(group_col).agg(
        F.sum("__occ").cast("long").alias("n_occurrences"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
    )
    spine = df.select(F.col(group_col)).distinct()
    out = spine.join(agged, group_col, "left").select(
        group_col,
        F.coalesce("n_occurrences", F.lit(0).cast("long")).alias(
            "n_occurrences"
        ),
        F.coalesce("n_distinct", F.lit(0).cast("long")).alias("n_distinct"),
    )
    return out.select(
        group_col, "n_occurrences", "n_distinct",
        F.when(
            F.col("n_occurrences") > 0,
            F.col("n_distinct").cast("double")
            / F.col("n_occurrences").cast("double"),
        ).alias("distinct_ratio"),
    )


def readability(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Flesch reading ease + Flesch-Kincaid grade per document
    (Flesch 1948; Kincaid et al. 1975) — the classic readability gate
    in web-corpus quality filtering (too-hard and too-degenerate text
    both fall out of the mid band):

        ease  = 206.835 − 1.015·(W/S) − 84.6·(Syl/W)
        grade = 0.39·(W/S) + 11.8·(Syl/W) − 15.59

    Counts are exact: W = token count; S = sentence-delimiter runs
    (``[.!?]+``), floored at 1; Syl = Σ per word max(1, vowel-group
    count) — the standard heuristic, computed INSIDE the token array
    with ``F.aggregate`` (integer adds, no explode, no UDF). The
    constants are ≤6-significant-digit literals (exact decimal→double
    round-trip on both engines) and each formula is one fixed written-
    order expression over two IEEE divisions, so scores are
    bit-identical across engines and partitionings. NULL/blank texts
    are excluded.

    Output: one row per doc — ``(id_col, n_words, n_sentences,
    n_syllables, flesch_ease, fk_grade)``.

    Scale shape: a pure per-row projection — zero shuffles, zero
    joins; whole-stage-codegen all the way.
    """
    base = df.filter(
        F.col(text_col).isNotNull() & (F.length(F.trim(F.col(text_col))) > 0)
    )
    toks = tokens_of(text_col)
    words = F.size(toks).cast("long")
    sents = F.greatest(
        F.lit(1).cast("long"),
        F.regexp_count(F.col(text_col), F.lit(r"[.!?]+")).cast("long"),
    )
    syls = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, w: acc
        + F.greatest(
            F.lit(1).cast("long"),
            F.regexp_count(F.lower(w), F.lit(r"[aeiouy]+")).cast("long"),
        ),
    )
    out = base.select(
        F.col(id_col),
        words.alias("n_words"),
        sents.alias("n_sentences"),
        syls.alias("n_syllables"),
    )
    wps = F.col("n_words").cast("double") / F.col("n_sentences").cast("double")
    spw = F.col("n_syllables").cast("double") / F.col("n_words").cast("double")
    return out.select(
        id_col,
        "n_words",
        "n_sentences",
        "n_syllables",
        (F.lit(206.835) - 1.015 * wps - 84.6 * spw).alias("flesch_ease"),
        (0.39 * wps + 11.8 * spw - F.lit(15.59)).alias("fk_grade"),
    )


def rbo_min(
    ranking_a: DataFrame,
    ranking_b: DataFrame,
    *,
    group_col: str,
    id_col: str,
    rank_a_col: str = "rank",
    rank_b_col: str = "rank",
) -> DataFrame:
    """Rank-biased overlap, minimum-certainty form (Webber, Moffat &
    Zobel 2010) of two top-10 rankings per group — the standard
    similarity of INDEFINITE rankings: unlike Kendall/Spearman (which
    need identical item sets) RBO compares prefix lists that only
    partly overlap, weighting agreement at the top of the list
    geometrically higher — "did the two retrieval systems find the same
    head?", the companion of :func:`ndcg_at_k` (that grades one ranking
    against labels; this compares two rankings to each other).

        RBO_min = Σ_{d=1..depth} (X_d / d) · (1-p) · p^(d-1)

    at persistence p = 0.9 and depth 10, with X_d = |A_{1..d} ∩
    B_{1..d}|. An item ranked r_a in A and r_b in B first counts at
    depth max(r_a, r_b), so X_d needs only the per-item rank pair — no
    per-depth set intersection.

    Engine-exactness: the depth weights (1-p)·p^(d-1) are Python-
    evaluated literal doubles baked into the plan (the
    :func:`ndcg_at_k` discipline — no engine ever computes a power),
    X_d are exact integer conditional counts, each addend is one exact
    division by the literal d times a literal weight, and the sum is a
    FIXED WRITTEN-ORDER depth-term expression — bit-identical across
    engines and partitionings.

    Output: one row per group — ``(group_col, n_common, rbo_min)``.
    ``rbo_min`` is a LOWER bound on full RBO (mass beyond ``depth`` is
    unobserved); groups present in only one ranking score 0.0.

    Scale shape: ranks at-or-under ``depth`` only (both inputs filtered
    first), one (group, item) equi-join of two depth-bounded frames,
    one aggregate with ``depth`` bounded accumulators. No window, no
    data-sized fan-out.
    """
    p, depth = 0.9, 10
    wts = [(1.0 - p) * p ** (d - 1) for d in range(1, depth + 1)]
    a = ranking_a.select(
        F.col(group_col).alias("__g"),
        F.col(id_col).alias("__i"),
        F.col(rank_a_col).cast("long").alias("__ra"),
    ).filter(F.col("__ra") <= depth)
    b = ranking_b.select(
        F.col(group_col).alias("__g"),
        F.col(id_col).alias("__i"),
        F.col(rank_b_col).cast("long").alias("__rb"),
    ).filter(F.col("__rb") <= depth)
    pairs = a.join(b, ["__g", "__i"]).select(
        "__g", F.greatest("__ra", "__rb").alias("__m")
    )
    xs = [
        F.sum(F.when(F.col("__m") <= d, 1).otherwise(0)).cast("long")
        for d in range(1, depth + 1)
    ]
    # Fixed written-order sum: ((X1/1)*w1 + (X2/2)*w2) + ... — the
    # Python loop builds the same left-associated tree every run.
    expr = None
    for d in range(1, depth + 1):
        term = (
            xs[d - 1].cast("double") / F.lit(float(d))
        ) * F.lit(wts[d - 1])
        expr = term if expr is None else expr + term
    groups = (
        a.select("__g").unionByName(b.select("__g")).distinct()
    )
    scored = pairs.groupBy("__g").agg(
        F.count(F.lit(1)).cast("long").alias("n_common"),
        expr.alias("rbo_min"),
    )
    return (
        groups.join(scored, "__g", "left")
        .select(
            F.col("__g").alias(group_col),
            F.coalesce("n_common", F.lit(0).cast("long")).alias("n_common"),
            F.coalesce("rbo_min", F.lit(0.0)).alias("rbo_min"),
        )
    )
