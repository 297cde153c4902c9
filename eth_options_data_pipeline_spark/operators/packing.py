"""Sequence packing: group documents into fixed-token-budget packs.

Pretraining pipelines concatenate documents into fixed-length training
sequences ("packing") to avoid padding waste. Greedy packing — close
the current pack when the next document would overflow — is inherently
sequential, so this is one of the few operators where the engine
reaches for ``applyInPandas``: documents are hash-bucketed into
``n_shards`` independent packing streams (parallelism = shards, which
map 1:1 to output files), and each shard is packed by a sequential
Arrow-batched kernel in deterministic hash order.

Contract (pinned by tests):

  * every document lands in exactly one pack, whole — never split;
  * pack token totals never exceed ``budget``, except a document
    larger than the whole budget, which gets a pack to itself;
  * the assignment is a pure function of (seed, doc ids, token
    counts): replays and re-runs produce identical packs.

A pure-window cumsum approximation exists (cut where the running
total crosses a budget multiple) but its packs overshoot by up to one
document; the sequential kernel gives the exact greedy bound at the
cost of per-shard ordering — the right trade for a write-path job.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType


def _out_schema(docs: DataFrame, id_col: str) -> StructType:
    id_type = dict(docs.dtypes)[id_col]
    assert id_type in ("bigint", "int", "long"), "id column must be integral"
    return StructType([
        StructField("doc_id_packed", LongType()),
        StructField("shard", LongType()),
        StructField("pack_seq", LongType()),
        StructField("pack_id", LongType()),
        StructField("offset_in_pack", LongType()),
        StructField("pack_tokens", LongType()),
    ])


def pack_documents(docs: DataFrame, id_col: str, tokens_col: str,
                   budget: int, n_shards: int = 8,
                   seed: str = "pack") -> DataFrame:
    """Assign documents to packs; returns (doc_id_packed, shard,
    pack_seq, pack_id, offset_in_pack, pack_tokens) — join back on the
    id for payloads. ``pack_tokens`` is the pack's running total as of
    this doc (the pack's final size on its last row)."""
    def pack_shard(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        (shard,) = key
        # the md5 order key arrives as a COLUMN (computed by the JVM's
        # codegen md5 in the same projection as the shard key) — the
        # kernel used to re-derive it per row with hashlib inside the
        # sort, Python-side work the Arrow batch already carried (r16,
        # guide §4.2)
        rows = sorted(
            zip(pdf["_id"], pdf["_tok"], pdf["_okey"]),
            key=lambda r: (r[2], int(r[0])))
        out = {k: [] for k in ("doc_id_packed", "shard", "pack_seq",
                               "pack_id", "offset_in_pack", "pack_tokens")}
        pack_seq, used = 0, 0
        for doc_id, tok, _ in rows:
            tok = int(tok)
            if used > 0 and used + tok > budget:
                pack_seq += 1
                used = 0
            out["doc_id_packed"].append(int(doc_id))
            out["shard"].append(int(shard))
            out["pack_seq"].append(pack_seq)
            out["pack_id"].append(int(shard) * (1 << 40) + pack_seq)
            out["offset_in_pack"].append(used)
            used += tok
            out["pack_tokens"].append(used)
            if used >= budget:
                pack_seq += 1
                used = 0
        return pd.DataFrame(out)

    h = F.conv(F.substring(F.md5(F.concat(
        F.lit(f"{seed}|"), F.col(id_col).cast("string"))), 1, 13), 16, 10)
    okey = F.md5(F.concat(F.lit(f"{seed}o|"), F.col(id_col).cast("string")))
    keyed = docs.select(
        F.col(id_col).cast("long").alias("_id"),
        F.col(tokens_col).cast("long").alias("_tok"),
        F.pmod(h.cast("long"), F.lit(n_shards)).alias("_shard"),
        okey.alias("_okey"),
    )
    return (
        keyed.groupBy("_shard")
        .applyInPandas(pack_shard, schema=_out_schema(docs, id_col))
    )
