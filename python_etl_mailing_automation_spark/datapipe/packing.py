"""Sequence packing: map documents to fixed-length training sequences.

GPT-style "concatenate then chunk": within a shard, documents are laid
end-to-end in a deterministic order and the token stream is cut into
sequences of exactly ``seq_len`` tokens. Each document maps to a token
span ``[start_tok, start_tok + n_tokens)``; from that span the packer
derives which sequences the document lands in and at what offset — the
index a training loader needs to assemble batches without re-reading the
corpus.

Spark shape: a running-sum window partitioned by the SHARD key, ordered
by a deterministic superkey. Per-shard prefix sums are the scalable form
of the global concatenation order: a corpus is packed as S independent
shards (source, or a hash bucket of the doc id), each a window partition
— no global sort, no single-partition window, and shard boundaries are
exactly the places a distributed loader would restart anyway. At 100 TB
with e.g. 4096 hash shards each window partition holds ~25 GB of (id,
token-count) pairs — small fixed-width rows, comfortably within an
executor's sort budget; raise the shard count to shrink partitions
further. All arithmetic is integer (bigint cumsum, integer division) —
exact and engine-portable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def pack_sequences(
    df: DataFrame,
    *,
    token_col: str = "n_tokens",
    seq_len: int = 2048,
    shard_col: str = "source",
    order_col: str = "doc_id",
) -> DataFrame:
    """Assign each document its packed-sequence placement.

    Adds (all bigint):
    - ``start_tok`` — the document's first token's offset in the shard's
      concatenated token stream (0-based);
    - ``first_seq`` / ``last_seq`` — index of the first / last
      ``seq_len``-token sequence the document overlaps (0-based, within
      the shard);
    - ``offset_in_seq`` — the document's offset inside ``first_seq``;
    - ``n_seqs`` — how many sequences the document spans (1 for a doc
      that fits; 0 for an empty doc).

    ``order_col`` must be a per-shard superkey (unique within the shard)
    or placement is nondeterministic.
    """
    w = (
        Window.partitionBy(shard_col)
        .orderBy(F.col(order_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tok = F.col(token_col).cast("long")
    cum = F.sum(tok).over(w)
    start = (cum - tok).alias("start_tok")
    out = df.withColumn("start_tok", start).withColumn("__end", cum)
    L = F.lit(int(seq_len)).cast("long")

    def idiv(a: Column, b: Column) -> Column:
        # exact integer floor-division for non-negative operands
        return ((a - (a % b)) / b).cast("long")

    out = (
        out.withColumn("first_seq", idiv(F.col("start_tok"), L))
        .withColumn(
            "last_seq",
            F.greatest(idiv(F.col("__end") - 1, L), idiv(F.col("start_tok"), L)),
        )
        .withColumn("offset_in_seq", (F.col("start_tok") % L).cast("long"))
        .withColumn(
            "n_seqs",
            F.when(tok > 0, F.col("last_seq") - F.col("first_seq") + 1)
            .otherwise(F.lit(0))
            .cast("long"),
        )
    )
    return out.drop("__end")


def to_prompt_completion(
    df: DataFrame,
    *,
    text_col: str = "text",
    n_prompt_tokens: int = 16,
    min_completion_tokens: int = 4,
) -> DataFrame:
    """Split documents into (prompt, completion) pairs on a fixed token
    boundary — the simplest document→SFT-pair transform (continuation
    training data): the first ``n_prompt_tokens`` whitespace tokens
    become the prompt, the rest the completion. Documents whose
    completion would run shorter than ``min_completion_tokens`` are
    dropped (nothing to learn from).

    Pure per-row array algebra (slice + join) — zero shuffles at any
    scale.
    """
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    prompt = F.array_join(F.slice(toks, 1, n_prompt_tokens), " ")
    completion = F.array_join(
        F.slice(
            toks,
            n_prompt_tokens + 1,
            F.greatest(F.size(toks) - n_prompt_tokens, F.lit(0)),
        ),
        " ",
    )
    return (
        df.filter(F.size(toks) >= n_prompt_tokens + min_completion_tokens)
        .withColumn("prompt", prompt)
        .withColumn("completion", completion)
    )


def format_chat_text(
    df: DataFrame,
    *,
    prompt_col: str = "prompt",
    completion_col: str = "completion",
    system: str | None = None,
    user_tag: str = "<|user|>",
    assistant_tag: str = "<|assistant|>",
    system_tag: str = "<|system|>",
    end_tag: str = "<|end|>",
    out_col: str = "chat_text",
) -> DataFrame:
    """Render (prompt, completion) rows into the single chat-formatted
    training string an SFT loader consumes::

        [<|system|>\\n{system}\\n]<|user|>\\n{prompt}\\n<|assistant|>\\n{completion}<|end|>

    plus ``chat_n_chars`` for budget accounting. Tags are parameters —
    any ChatML-ish template renders through the same concat. Pure
    column concatenation: zero shuffles, stays in whole-stage codegen.
    """
    parts = []
    if system is not None:
        parts += [F.lit(f"{system_tag}\n{system}\n")]
    parts += [
        F.lit(f"{user_tag}\n"),
        F.coalesce(F.col(prompt_col).cast("string"), F.lit("")),
        F.lit(f"\n{assistant_tag}\n"),
        F.coalesce(F.col(completion_col).cast("string"), F.lit("")),
        F.lit(end_tag),
    ]
    out = df.withColumn(out_col, F.concat(*parts))
    return out.withColumn("chat_n_chars", F.length(F.col(out_col)).cast("long"))
