"""Content-defined chunking (CDC) fingerprints via polynomial rolling
hash — the shift-robust fingerprinting face.

dx02's whole-document digest changes completely when one byte shifts;
MinHash (dx07) is robust but probabilistic. CDC is the deterministic
middle ground used by dedup storage systems (LBFS, restic, borg) and
data-pipeline near-dup detection: chunk boundaries are declared where
a rolling hash of the trailing window hits a modulus condition, so
boundaries move WITH the content — inserting a sentence changes the
chunks it touches and no others, and unchanged chunks keep identical
digests. Matching chunk digests across documents then expose
shifted/partially-edited duplicates that fixed-offset hashing misses.

Implementation: the per-document chunking is one Arrow-batched
mapInPandas pass (plain Python over each text — the rolling recurrence
is inherently sequential per document, the classic "per-row imperative
kernel" case the engine reserves Pandas paths for). Emitted chunk
digests are md5, so downstream group-bys shuffle 32-byte digests,
never text — the same 100 TB shape as dx01's exact dedup.

Rolling hash: H_i = (H_{i-1} * B + c_i - c_{i-w} * B^w) mod M over a
w-char window (Rabin-Karp form), boundary when H_i % D == D - 1,
with min/max chunk-length clamps like real CDC systems use to bound
chunk-size variance.
"""

from __future__ import annotations

import sys
from collections.abc import Iterator

import pandas as pd
from pyspark.cloudpickle import register_pickle_by_value
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    LongType, StringType, StructField, StructType,
)

# the mapInPandas kernel closes over module-level chunk_boundaries;
# without by-value pickling, workers spawned from a non-repo cwd (the
# driver contract) can't import this module back
register_pickle_by_value(sys.modules[__name__])

B = 257            # polynomial base
M = (1 << 31) - 1  # modulus (Mersenne prime)
WINDOW = 16        # rolling window chars
DIVISOR = 64       # boundary when H % DIVISOR == DIVISOR-1 (~64-char chunks)
MIN_CHUNK = 24
MAX_CHUNK = 256

CHUNK_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("chunk_idx", LongType()),
    StructField("chunk_start", LongType()),
    StructField("chunk_len", LongType()),
    StructField("chunk_digest", StringType()),
])


def chunk_boundaries(text: str) -> list[int]:
    """End offsets (exclusive) of every CDC chunk of ``text``."""
    n = len(text)
    if n == 0:
        return []
    bw = pow(B, WINDOW, M)
    bounds = []
    h = 0
    start = 0
    for i, ch in enumerate(text):
        h = (h * B + ord(ch)) % M
        if i - start >= WINDOW:
            h = (h - ord(text[i - WINDOW]) * bw) % M
        length = i - start + 1
        at_cut = h % DIVISOR == DIVISOR - 1
        if (length >= MIN_CHUNK and at_cut) or length >= MAX_CHUNK:
            bounds.append(i + 1)
            start = i + 1
            h = 0
    if start < n:
        bounds.append(n)
    return bounds


def cdc_chunks(docs: DataFrame) -> DataFrame:
    """Explode documents into content-defined chunks with md5 digests
    (fan-out mapInPandas; one pass per document)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in it:
            out: dict[str, list] = {k.name: [] for k in CHUNK_SCHEMA.fields}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                text = text or ""
                prev = 0
                for idx, end in enumerate(chunk_boundaries(text)):
                    piece = text[prev:end]
                    out["doc_id"].append(int(doc_id))
                    out["chunk_idx"].append(idx)
                    out["chunk_start"].append(prev)
                    out["chunk_len"].append(len(piece))
                    out["chunk_digest"].append(
                        hashlib.md5(piece.encode()).hexdigest())
                    prev = end
            yield pd.DataFrame(out)

    return docs.select("doc_id", "text").mapInPandas(batches, schema=CHUNK_SCHEMA)
