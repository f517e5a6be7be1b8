"""Content-defined chunking (CDC) dedup — the text-domain analog of
Rabin/FastCDC storage chunking, a standard large-pipeline technique
for catching documents that share most of their CONTENT at shifted
OFFSETS (prepended headers, mid-file insertions), where fixed-size
blocking loses every block after the edit.

A cut falls after every token whose 64-bit hash ≡ 0 (mod ``modulus``)
— boundaries ride the content, so an edit disturbs only the chunk it
lands in (property-tested: 24/25 chunks survive a prefix insertion).
Chunk hashes reuse the span-hash kernel family
(functions/shingles.cdc_chunk_hashes), so the validated DuckDB
HUGEINT oracle pattern value-verifies the whole inventory; near-dup
pairs ride the shared exact set-Jaccard join core
(operators/similarity.set_jaccard_pairs) with its quadratic-hot-key
guard — the same 100-TB posture as the n-gram and repo-similarity
paths (no new join shapes, no new skew surface).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CDC_CHUNK_SCHEMA = (
    "file_id long, chunk_idx long, n_tokens long, chunk_hash long"
)


def cdc_chunks(
    df: DataFrame,
    id_col: str = "file_id",
    content_col: str = "content",
    modulus: int = 16,
) -> DataFrame:
    """Per-document chunk inventory: (file_id, chunk_idx, n_tokens,
    chunk_hash) — chunk_hash is the signed-int64 view of the uint64
    kernel hash (the engine-wide convention). Empty/whitespace-only
    documents yield no rows. Arrow-batched; one kernel pass per doc."""

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from dedup_spark.functions.shingles import cdc_chunk_hashes

        for pdf in batches:
            chunks = [cdc_chunk_hashes(text or "", modulus) for text in pdf[content_col]]
            counts = np.array([h.shape[0] for h, _ in chunks], dtype=np.int64)
            # chunk_idx restarts at 0 in every document: a global arange
            # minus each document's first output row
            first = np.repeat(np.cumsum(counts) - counts, counts)
            yield pd.DataFrame(
                {"file_id": np.repeat(pdf[id_col].to_numpy(dtype=np.int64), counts),
                 "chunk_idx": np.arange(counts.sum()) - first,
                 "n_tokens": np.concatenate([np.empty(0, np.int64), *(n for _, n in chunks)]),
                 "chunk_hash": np.concatenate(
                     [np.empty(0, np.uint64), *(h for h, _ in chunks)]).view(np.int64)}
            )

    return df.select(id_col, content_col).mapInPandas(_run, CDC_CHUNK_SCHEMA)


def cdc_near_dup_pairs(
    df: DataFrame,
    id_col: str = "file_id",
    content_col: str = "content",
    modulus: int = 16,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Document pairs whose DISTINCT chunk-hash sets overlap with
    Jaccard ≥ threshold — offset-shift-tolerant containment dedup.
    ``max_doc_freq`` is the standard hot-key cap (a chunk present in
    d docs emits C(d,2) join rows; dropped keys are counted, never
    silent — see set_jaccard_pairs)."""
    from dedup_spark.operators.similarity import set_jaccard_pairs

    exploded = (
        cdc_chunks(df, id_col, content_col, modulus)
        .select("file_id", "chunk_hash")
        .distinct()
    )
    return set_jaccard_pairs(
        exploded,
        "file_id",
        "chunk_hash",
        threshold,
        max_entity_freq=max_doc_freq,
        shared_col="n_shared",
    )
