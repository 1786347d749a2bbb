"""Sliding-window chunking: split documents into fixed-size
overlapping token windows — the sample-prep step between curation
and tokenization (context-window packing inputs, RAG passage
indexing, the chunk relation `ops.dedup.chunk_dedup` consumes).

Spark-first shape: the window boundaries are arithmetic over the
split-word array — ``sequence`` + ``slice`` inside one ``posexplode``
(a Generate, not a shuffle). No Python, no window function, no
repartition: a document's chunks are produced where the document
already lives, so the operator composes with any upstream
partitioning for free.
Chunk counts follow the standard rule: one chunk when the doc fits,
else enough stride steps to cover the tail (the last window may be
short; it is never empty because ``stride < chunk`` keeps every
window anchored inside the text).

All arithmetic stays integer-exact (engine-portable): ``n_chunks =
1 + ceil((n - chunk) / stride)`` is computed as
``(n - chunk + stride - 1) div stride`` on longs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

CHUNK_WORDS = 64
CHUNK_STRIDE = 48


def sliding_chunks(docs: DataFrame, text_col: str = "text",
                   chunk: int = CHUNK_WORDS,
                   stride: int = CHUNK_STRIDE) -> DataFrame:
    """-> (doc_id, chunk_id, n_tokens, chunk_text), one row per
    window of ``chunk`` words advancing by ``stride`` (overlap =
    ``chunk - stride``). Empty documents produce no rows."""
    if not 0 < stride <= chunk:
        raise ValueError("need 0 < stride <= chunk")
    ws = F.filter(F.split(F.col(text_col), " "),
                  lambda w: w != F.lit(""))
    n = F.size(ws).cast("long")
    base = (docs
            .select("doc_id", ws.alias("_ws"), n.alias("_n"))
            .filter(F.col("_n") > 0)
            # integer `div`, not floor(double /): the oracle's `//` is
            # integer division, and long/int division in Spark is
            # double — exact only below 2^53 (the packing module's
            # bucket rule, applied here for the same engine-parity
            # reason even though no real document approaches the bound)
            .withColumn("_nc", F.when(
                F.col("_n") <= chunk, F.lit(1).cast("long")).otherwise(
                F.lit(1) + F.expr(
                    f"(_n - {int(chunk)} + {int(stride)} - 1) "
                    f"div {int(stride)}"))))
    # the slices are built inside the generator's input, so the
    # Generate carries only doc_id (exploding chunk ids next to `_ws`
    # would copy the whole word array once per chunk)
    pieces = F.transform(
        F.sequence(F.lit(0), F.col("_nc").cast("int") - 1),
        lambda i: F.slice(F.col("_ws"), i * stride + 1, chunk))
    return (base
            .select("doc_id", F.posexplode(pieces).alias("chunk_id", "_p"))
            .select("doc_id", F.col("chunk_id").cast("long"),
                    F.size("_p").cast("long").alias("n_tokens"),
                    F.array_join("_p", " ").alias("chunk_text")))
