"""The three-level packing tree ``operators/packing.py`` used before it
read its block ranges from the data: id div ``block`` blocks, their
totals rolled up to superblocks, and one partition-less window over
the superblock totals, with the ``(id, n_tokens, seq_id, seq_offset)``
result joined back by its caller.  ``tests/reference/curate.py`` packs
with it, so curate's output pins the package's packing against this
one on curate's own hashed ids (tests/test_spark_pipeline.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

BLOCK = 65536


def pack_sequences(df: DataFrame, budget: int = 2048,
                   id_col: str = "doc_id",
                   text_col: str = "text",
                   tokens_col: str | None = None,
                   block: int = BLOCK) -> DataFrame:
    """(id, n_tokens, seq_id, seq_offset) per document.

    ``n_tokens`` is whitespace tokens of ``text_col`` unless a
    precomputed ``tokens_col`` is given. ``seq_offset`` is the
    document's first-token position inside its sequence; documents
    longer than the remaining room straddle into the next sequence
    (concat-and-chunk semantics)."""
    ntok = (F.col(tokens_col) if tokens_col else
            F.size(F.split(F.col(text_col), " "))).cast("long")
    base = df.select(
        F.col(id_col),
        ntok.alias("n_tokens"),
        # `div` = integer division on longs — `/` is DOUBLE division
        # and loses exactness past 2^53, i.e. precisely at the scale
        # this operator exists for
        F.expr(f"{id_col} div {block}").alias("_blk"),
    ).withColumn("_sblk", F.expr(f"_blk div {block}"))

    w_in = Window.partitionBy("_blk").orderBy(id_col) \
        .rowsBetween(Window.unboundedPreceding, 0)
    base = base.withColumn("_cum_in", F.sum("n_tokens").over(w_in))

    blk_tot = base.groupBy("_sblk", "_blk") \
        .agg(F.sum("n_tokens").alias("_bt"))
    w_blk = Window.partitionBy("_sblk").orderBy("_blk") \
        .rowsBetween(Window.unboundedPreceding, -1)
    blk_off = blk_tot.withColumn(
        "_blk_off", F.coalesce(F.sum("_bt").over(w_blk), F.lit(0)))

    sblk_tot = blk_tot.groupBy("_sblk").agg(F.sum("_bt").alias("_st"))
    # partition-less window = single task BY DESIGN, and bounded: one
    # row per superblock (block² ≈ 16.7M ids each), so even 10^12
    # docs yield only ~60k rows here — the WindowExec
    # "no partition defined" warning in bench tails is this, and it
    # is noise, not a scale risk.
    w_sblk = Window.orderBy("_sblk") \
        .rowsBetween(Window.unboundedPreceding, -1)
    sblk_off = sblk_tot.withColumn(
        "_sblk_off", F.coalesce(F.sum("_st").over(w_sblk), F.lit(0)))

    return (
        base
        .join(blk_off.select("_blk", "_blk_off"), "_blk")
        .join(F.broadcast(sblk_off.select("_sblk", "_sblk_off")),
              "_sblk")
        .withColumn(
            "_before",
            F.col("_sblk_off") + F.col("_blk_off")
            + F.col("_cum_in") - F.col("n_tokens"),
        )
        .select(
            id_col,
            F.col("n_tokens").cast("int").alias("n_tokens"),
            F.expr(f"_before div {budget}").alias("seq_id"),
            (F.col("_before") % budget).cast("int").alias("seq_offset"),
        )
    )
