"""Streaming incremental SimHash near-dup — the stream twin of
``dedup.incremental_simhash_pairs``, completing the simhash family
(direct / incremental / stored-index / streaming) the way
``streaming/neardup.py`` and ``streaming/excise.py`` complete MinHash
and span excision.

The batch fingerprint (``dedup.simhash_portable``) is row-local — a
projection of the staged token-hash array with one fold per pair of
bits, no aggregate — so the stream runs the batch builder itself.

A document matching a corpus document in BOTH pigeonhole bands emits
one row per band — the consumer dedups verdicts downstream (sink-side
distinct or ``dropDuplicatesWithinWatermark``), mirroring the
neardup-stream contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def streaming_incremental_simhash(
    stream: DataFrame,
    corpus_index: DataFrame,
    max_hamming: int = 1,
    bands: int = 2,
    bits: int = 24,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup verdicts of a document stream vs the standing corpus:
    row-local fingerprints -> pigeonhole chunk rows (posexplode,
    streaming-legal) -> stream-static equi-join against the saved chunk
    index (``ann_store.save_simhash_index``'s (band, chunk, corpus_id,
    corpus_fp) table) -> exact hamming verify in-stream.  Emits
    ``(new_id, corpus_id, hamming)`` append rows (one per matching
    band — dedup downstream)."""
    from kats_spark.operators.dedup import (
        _check_simhash_bands,
        simhash_chunk_rows,
        simhash_portable,
    )

    _check_simhash_bands(bands, max_hamming, bits)
    fp = simhash_portable(stream, text_col, id_col, bits, "simhash16")
    kn = simhash_chunk_rows(fp, bands, bits, id_col, "simhash16").select(
        F.col("__band").alias("band"),
        F.col("__chunk").alias("chunk"),
        F.col(id_col).alias("new_id"),
        F.col("simhash16").alias("__fa"),
    )
    ham = F.bit_count(F.col("__fa").bitwiseXOR(F.col("corpus_fp")))
    return (
        kn.join(corpus_index, ["band", "chunk"])
        .withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("new_id", "corpus_id", "hamming")
    )
