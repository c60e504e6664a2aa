"""Sequence packing for LM training — concat-and-chunk: lay documents
out in deterministic id order and assign each to the fixed-token-
budget training sequence its first token falls into
(``seq_id = floor(tokens_before / budget)``), the standard packing
used when documents are concatenated and chunked into context-length
windows.

The global prefix sum is the scale problem: a partition-less window
over every row is a single-task bottleneck.  This is a two-level
prefix sum over id ranges read from the data instead:

1. one partial ``min``/``max`` aggregate cuts the id range into at
   most ``BLOCKS + 1`` equal-width, ordered blocks;
2. a window partitioned by block gives each row its cumulative sum
   inside its block (parallel across blocks);
3. only the per-block totals — at most ``BLOCKS + 1`` rows of two
   longs, whatever the id layout — pass through the one
   partition-less window, and their offsets broadcast back.

The traffic it serves: ``jobs/curate.py`` packs ``xxhash64(url)``
ids, spread over the whole long range, and the ``pack_sequences``
oracle query packs the dense ``doc_id`` of the documents table.
Both spread over their range, which is the balance condition: ids
bunched in a few blocks put their rows in a few window tasks.

Everything is integer arithmetic — bit-exact under any partitioning,
so the DuckDB oracle is a plain window cumsum.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: the block width is the id range over BLOCKS, rounded up
BLOCKS = 1 << 16


def pack_sequences(df: DataFrame, budget: int = 2048,
                   id_col: str = "doc_id",
                   text_col: str = "text",
                   tokens_col: str | None = None) -> DataFrame:
    """``(id, *the input's other columns, n_tokens, seq_id,
    seq_offset)`` per document, one row per input row with a non-NULL
    id, so a caller packs its documents in place.

    ``n_tokens`` is whitespace tokens of ``text_col`` unless a
    precomputed ``tokens_col`` is given. ``seq_offset`` is the
    document's first-token position inside its sequence; documents
    longer than the remaining room straddle into the next sequence
    (concat-and-chunk semantics)."""
    ntok = (F.col(tokens_col) if tokens_col else
            F.size(F.split(F.col(text_col), " "))).cast("long")
    # max - min in decimal: across the whole long range it overflows
    # a long.  With this width, floor(id / width) spans at most
    # BLOCKS + 1 values
    width = df.agg(F.expr(
        f"cast((cast(max({id_col}) as decimal(20, 0)) - min({id_col})) "
        f"div {BLOCKS} + 1 as long)").alias("_w"))
    rows = df.crossJoin(F.broadcast(width)).select(
        *df.columns, ntok.alias("n_tokens"),
        # floor division: `div` truncates toward zero, which would
        # make the block around 0 twice as wide
        F.expr(f"{id_col} div _w - if({id_col} % _w < 0, 1, 0)")
        .alias("_blk"))
    in_block = rows.withColumn("_cum", F.sum("n_tokens").over(
        Window.partitionBy("_blk").orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, 0)))
    offsets = rows.groupBy("_blk").agg(
        F.sum("n_tokens").alias("_bt")
    ).select("_blk", F.coalesce(F.sum("_bt").over(
        Window.orderBy("_blk").rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0)).alias("_off"))
    return (
        in_block.join(F.broadcast(offsets), "_blk")
        .withColumn("_before", F.col("_off") + F.col("_cum")
                    - F.col("n_tokens"))
        .select(
            id_col, *[c for c in df.columns if c != id_col],
            F.col("n_tokens").cast("int").alias("n_tokens"),
            # `div` = integer division on longs — `/` is DOUBLE
            # division and loses exactness past 2^53
            F.expr(f"_before div {budget}").alias("seq_id"),
            (F.col("_before") % budget).cast("int").alias("seq_offset"),
        )
    )
