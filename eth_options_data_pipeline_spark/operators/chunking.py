"""Document chunking: split each document into overlapping
fixed-token-count windows with stable chunk ids.

The RAG / context-window preprocessing step: a corpus of long
documents becomes a corpus of chunks of at most ``chunk_tokens``
whitespace tokens, consecutive chunks sharing ``overlap`` tokens so
no span of meaning is cut without context. The reference repo has no
text path at all; this is a beyond-§2 training-data operator.

Chunk placement is fully determined by the token count: starts are
0, stride, 2*stride, ... (stride = chunk_tokens - overlap) and the
last start is the first one whose window reaches the end of the
document — so a document never emits a trailing chunk that is pure
overlap of its predecessor, and a short document emits exactly one
chunk.

Scale shape: the whole operator is per-row array expressions
(split → sequence of starts → posexplode → slice → array_join) —
zero shuffles, zero Python; output size is input size times the
~chunk/stride duplication factor, which the caller chose. Chunk ids
are ``<doc_id>#<index>``: deterministic, rerun-stable, and
join-back-able to the parent document by splitting on '#'.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def chunk_documents(docs: DataFrame, chunk_tokens: int = 256,
                    overlap: int = 32) -> DataFrame:
    """(id_col, chunk_id, chunk_index, chunk_text, n_tokens) — one row
    per chunk; chunk_index counts from 0 within each document."""
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap
    ws = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    n = F.size(ws)
    # number of chunks: 1 + ceil((n - chunk_tokens) / stride) when the
    # document overflows one window, else 1
    extra = F.when(n > chunk_tokens,
                   F.ceil((n - F.lit(chunk_tokens)) / F.lit(stride))
                   ).otherwise(F.lit(0))
    starts = F.sequence(F.lit(0), extra * stride, F.lit(stride))
    return (
        docs.select(
            F.col("doc_id"),
            F.col("text"),
            F.posexplode(starts).alias("chunk_index", "start"))
        .select(
            F.col("doc_id"),
            F.concat_ws("#", F.col("doc_id"), F.col("chunk_index"))
            .alias("chunk_id"),
            "chunk_index",
            F.array_join(
                F.slice(F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
                        F.col("start") + 1, chunk_tokens),
                " ").alias("chunk_text"),
            F.size(
                F.slice(F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
                        F.col("start") + 1, chunk_tokens)).alias("n_tokens"),
        )
    )
