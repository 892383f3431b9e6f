"""Stage 3 — embeddings and multiplexed-output splitting.

Embeddings: deterministic stub (core/embed.py) computed per chunk BEFORE
the sink append, preserving the reference's no-orphan all-or-nothing
contract — a chunk row never lands without its vector
(/root/reference/api.py:1360-1380, HOW_THIS_WORKS.md:313-315).

Splitters turn the stage-2 multiplexed table (chunk rows + sentinel doc
rows, see operators/chunk.py) back into the `chunks` / `documents` /
`lineage` relations.  They run on the *written* parquet, so the expensive
extract+chunk computation executes exactly once per batch.
"""

from __future__ import annotations

from functools import lru_cache
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..config import EMBED_DIM
from ..core.embed import embed_batch
from .chunk import CHUNK_COLS, SENTINEL_INDEX


@lru_cache(maxsize=2)
def embed_udf(packed: bool = False):
    """Lazy: pandas_udf DDL parsing needs an active SparkSession.

    ``packed=True`` emits the vector as a single ``binary`` cell
    (little-endian float32, 4·EMBED_DIM bytes) instead of
    ``array<float>``.  Same bytes of signal, but the packed column skips
    per-element Arrow offsets and parquet list encoding — measurably
    lighter on the memory subsystem in the embed+sink tail (the schema-v2
    path for throughput-critical runs; see BENCH.md).  Unpack with
    ``unpack_embeddings`` or ``numpy.frombuffer(cell, dtype='<f4')``.
    """

    if packed:

        @pandas_udf("binary")
        def _udf(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
            for texts in batches:
                mat = embed_batch(["" if t is None else t for t in texts], EMBED_DIM)
                out = [
                    None if t is None else mat[i].tobytes()
                    for i, t in enumerate(texts)
                ]
                yield pd.Series(out)

        return _udf

    @pandas_udf("array<float>")
    def _udf(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for texts in batches:
            mat = embed_batch(["" if t is None else t for t in texts], EMBED_DIM)
            out = [None if t is None else mat[i] for i, t in enumerate(texts)]
            yield pd.Series(out)

    return _udf


def add_embeddings(
    df: DataFrame, text_col: str = "content", packed: bool | None = None
) -> DataFrame:
    if packed is None:
        from ..config import EMBED_PACKED

        packed = EMBED_PACKED
    return df.withColumn("embedding", embed_udf(packed)(F.col(text_col)))


@lru_cache(maxsize=1)
def _unpack_udf():
    import numpy as np

    @pandas_udf("array<float>")
    def _udf(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for blobs in batches:
            yield pd.Series(
                [
                    None if b is None else np.frombuffer(b, dtype="<f4")
                    for b in blobs
                ]
            )

    return _udf


def unpack_embeddings(df: DataFrame, col: str = "embedding") -> DataFrame:
    """binary (packed float32) → array<float> — the schema-v2 read adapter."""
    return df.withColumn(col, _unpack_udf()(F.col(col)))


def split_chunks(multiplexed: DataFrame) -> DataFrame:
    return multiplexed.where(F.col("chunk_index") != SENTINEL_INDEX).select(
        *CHUNK_COLS, *( ["embedding"] if "embedding" in multiplexed.columns else [] )
    )


def split_documents(multiplexed: DataFrame) -> DataFrame:
    """Sentinel rows → documents(conv_id, title, num_turns, chunk_count,
    status).  chunk_count derives from the chunk rows of the same table —
    a count over already-materialised parquet, not a recompute."""
    sentinels = multiplexed.where(F.col("chunk_index") == SENTINEL_INDEX).select(
        "conv_id", "title", "num_turns", "status"
    )
    counts = (
        multiplexed.where(F.col("chunk_index") != SENTINEL_INDEX)
        .groupBy("conv_id")
        .agg(F.count("*").cast("int").alias("chunk_count"))
    )
    return sentinels.join(counts, "conv_id", "left").select(
        "conv_id",
        "title",
        "num_turns",
        F.coalesce("chunk_count", F.lit(0)).cast("int").alias("chunk_count"),
        "status",
    )


def lineage_exprs() -> list[F.Column]:
    """The per-batch counters (north rule: turns in/out, bytes parsed,
    parse failures) as aggregate columns over the multiplexed rows:
    document counters read sentinel rows, output counters read chunk
    rows.  One definition serves ``batch_lineage`` (an aggregate over
    committed rows) and the sink's in-write ``observe`` (plans/sinks.py),
    so both spellings agree by construction."""
    sentinel = F.col("chunk_index") == SENTINEL_INDEX
    chunk = F.col("chunk_index") != SENTINEL_INDEX

    def doc(c: F.Column) -> F.Column:
        return F.when(sentinel, c)

    return [
        F.count(doc(F.lit(1))).alias("convs"),
        F.sum(doc(F.col("num_turns"))).alias("turns_in"),
        F.sum(doc(F.col("bytes_in"))).alias("bytes_in"),
        F.sum(doc(F.col("parse_failures"))).alias("parse_failures"),
        F.sum(doc(F.col("struct_warnings"))).alias("struct_warnings"),
        F.sum(doc((F.col("status") != "embedded").cast("int"))).alias(
            "convs_rejected"
        ),
        F.count(F.when(chunk, F.lit(1))).alias("chunks_out"),
        F.sum(F.when(chunk, F.col("char_count"))).alias("chars_out"),
    ]


def batch_lineage(multiplexed: DataFrame) -> DataFrame:
    """Counter roll-up for one batch, one row (see ``lineage_exprs``) —
    computed from sentinel rows, so the counters are exactly-once per
    committed batch like the reference's verified ``affected_rows``
    (api.py:1417-1445)."""
    return multiplexed.agg(*lineage_exprs())
