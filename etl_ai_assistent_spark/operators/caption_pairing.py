"""G2 — caption→asset pairing (reference extract_assets,
docx_parser.py:166-197).

Reference semantics (imperative state machine):
- remember the most recent caption; a later caption overwrites an
  unconsumed one (docx_parser.py:178-181);
- the next asset block consumes the remembered caption, which is then
  cleared (docx_parser.py:183-196) — so ONE asset per caption;
- an asset with no pending caption gets no caption (falls back to a
  default name downstream); a caption never followed by an asset is
  dropped.

``pair_captions_window`` is the declarative twin: for every asset, take
the last preceding caption (last ignorenulls over block order), then keep
only the FIRST asset per caption (row_number). Equivalent to the state
machine for the above cases; one window pass partitioned by doc, no
cross-doc shuffle, oracle-checkable. tests/test_text_operators.py pins it
against a pure-Python replica of the state machine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def pair_captions_window(
    blocks: DataFrame,
    *,
    doc_col: str = "doc_id",
    order_col: str = "block_idx",
) -> DataFrame:
    """blocks(doc, order, text, is_caption BOOLEAN, is_asset BOOLEAN) ->
    (doc, asset_block_idx, caption_block_idx, caption_text); assets with
    no preceding caption keep nulls."""
    w = (
        Window.partitionBy(doc_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cap = F.when(
        F.col("is_caption"),
        F.struct(F.col(order_col).alias("i"), F.col("text").alias("t")),
    )
    with_cap = blocks.withColumn(
        "__cap", F.last(cap, ignorenulls=True).over(w)
    )
    assets = with_cap.filter(F.col("is_asset"))
    # clear-after-match: only the first asset after a caption consumes it
    w_first = Window.partitionBy(doc_col, F.col("__cap.i")).orderBy(order_col)
    return (
        assets.withColumn("__rn", F.row_number().over(w_first))
        .withColumn(
            "__use", F.col("__cap").isNotNull() & (F.col("__rn") == 1)
        )
        .select(
            F.col(doc_col),
            F.col(order_col).alias("asset_block_idx"),
            F.when(F.col("__use"), F.col("__cap.i")).alias("caption_block_idx"),
            F.when(F.col("__use"), F.col("__cap.t")).alias("caption_text"),
        )
    )
