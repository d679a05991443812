"""Sequence packing: assign documents to token-budget training bins.

Training-data pipelines batch documents into fixed-token-budget
sequences (e.g. 4k-token context windows). The deterministic
contiguous form used here: within each group, documents in a stable
order fill bins of ``budget`` tokens; a document's bin is the number
of whole budgets consumed before it starts::

    seq_id = floor(tokens_before_this_doc / budget)

A document may straddle a boundary (its tail spills into the next
bin) — that is the standard "pack then split" approximation, and it
keeps the operator a pure window expression instead of an iterative
bin-packer.

Scale shape: the window partitions by the grouping columns (source,
language, shard...), so at 100 TB this is one hash shuffle on the
group key and a per-group sort — no global total order, no driver
involvement. Groups are the unit of packing exactly because a global
ordering would serialize the cluster.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from trainingdata_spark.textops.analysis import tokens_col


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_tokens: int = 512,
    overlap: int = 64,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Split each document into overlapping fixed-size token windows —
    the context-length chunking step that feeds tokenization.

    One output row per chunk: the parent id, any ``keep_cols``
    passed through from the parent row (split labels, domains...),
    ``chunk_id`` (0-based), ``chunk_text`` (the window's tokens
    re-joined with single spaces), and ``chunk_tokens``. Windows start every ``max_tokens − overlap``
    tokens, so consecutive chunks share ``overlap`` tokens; a document
    of ≤ ``max_tokens`` tokens yields exactly one chunk (its full,
    whitespace-normalized text). Start offsets past the last token are
    never generated, so no empty trailing chunk exists.

    Scale shape: tokenize → ``sequence``/``explode`` over start
    offsets → per-row ``slice`` — a pure map stage, no shuffle, no
    UDF; output rows ≈ input tokens / (max_tokens − overlap). All
    deterministic column algebra, so the operator is SQL-oracle
    differential-testable."""
    if not 0 <= overlap < max_tokens:
        raise ValueError("need 0 <= overlap < max_tokens")
    step = max_tokens - overlap
    # null text behaves like empty text (without the coalesce,
    # size(null) is null and least/greatest null-skipping would
    # fabricate a chunk claiming max_tokens tokens), and empty text
    # yields one chunk of ZERO tokens — tokens_col('') returns ['']
    # whose phantom element must not count, matching score_documents'
    # n_tokens = 0 for the same document
    toks = F.filter(
        tokens_col(F.coalesce(F.col(text_col), F.lit(""))),
        lambda t: t != F.lit(""),
    )
    passthru = [F.col(c) for c in keep_cols]
    return (
        df.select(F.col(id_col), *passthru, toks.alias("__toks"))
        .select(
            id_col,
            *keep_cols,
            F.col("__toks"),
            F.posexplode(
                F.expr(f"sequence(1, greatest(size(__toks) - {overlap}, 1), {step})")
            ).alias("chunk_id", "__start"),
        )
        .select(
            id_col,
            *keep_cols,
            "chunk_id",
            F.concat_ws(
                " ", F.slice("__toks", F.col("__start"), F.lit(max_tokens))
            ).alias("chunk_text"),
            F.least(
                F.size("__toks") - F.col("__start") + 1, F.lit(max_tokens)
            ).alias("chunk_tokens"),
        )
    )


def pack_sequences(
    df: DataFrame,
    budget: int,
    group_cols: Sequence[str],
    order_col: str = "doc_id",
    n_tokens_col: str = "n_tokens",
    output_col: str = "seq_id",
) -> DataFrame:
    """Add ``seq_id``: the token-budget bin of each row within its
    group, deterministic given (group_cols, order_col)."""
    w = Window.partitionBy(*group_cols).orderBy(order_col)
    cum = F.sum(n_tokens_col).over(w)
    seq = F.floor((cum - F.col(n_tokens_col)) / F.lit(float(budget)))
    return df.withColumn(output_col, seq)
