"""Page-layout operators: header/footer flags and multi-column
reading-order reconstruction.

The reference's analyzer treats the block list as already being in
reading order and has no recurring-furniture removal (its fixture PDFs
are single-column and header-light), but both operations are standard
main-content-extraction stages for web-scale PDF corpora (the north
star names them), so they are provided as first-class relational
operators over the same block table the scoring chain uses — pure
window/groupBy plans with DuckDB oracle twins, no Python.

At 10^12-document scale both shuffle ONLY by doc_id (and page within
doc) — the same key the extraction output is already bucketed on, so
with a bucketed table these run exchange-free after the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

# The DuckDB oracle of ``layout_reading_order`` (plans/queries.py)
# spells out the same values.
FURNITURE_MIN_PAGES = 3
FURNITURE_RECURRENCE = 0.6
FURNITURE_Y_BIN = 120.0  # pt
PAGE_WIDTH = 612.0  # pt, US letter: the width of a block without one
N_COLS = 2


def header_footer_flags(blocks: DataFrame) -> DataFrame:
    """Flag page furniture: a block is flagged when the same text at
    the same vertical band (floor(y0 / FURNITURE_Y_BIN)) recurs on at
    least FURNITURE_RECURRENCE of the document's pages, for documents
    with at least FURNITURE_MIN_PAGES pages — the classic header/footer
    heuristic (same text, same position, most pages).

    Output: (doc_id, block_idx, is_furniture). Plan: one groupBy per
    (doc, band, text) with countDistinct(page), one per-doc page
    count, a join back on the derived keys — all keyed by doc_id.
    """
    b = blocks.select(
        "doc_id",
        "block_idx",
        "page_num",
        "block_text",
        F.floor(F.col("y0") / FURNITURE_Y_BIN).cast("bigint").alias("y_band"),
    )
    pages = b.groupBy("doc_id").agg(
        F.countDistinct("page_num").alias("n_pages")
    )
    rec = b.groupBy("doc_id", "y_band", "block_text").agg(
        F.countDistinct("page_num").alias("n_occ_pages")
    )
    flagged = (
        b.join(rec, ["doc_id", "y_band", "block_text"])
        .join(pages, "doc_id")
        .select(
            "doc_id",
            "block_idx",
            (
                (F.col("n_pages") >= FURNITURE_MIN_PAGES)
                & (F.col("n_occ_pages") >= F.col("n_pages") * FURNITURE_RECURRENCE)
            ).alias("is_furniture"),
        )
    )
    return flagged


def multicol_reading_order(blocks: DataFrame) -> DataFrame:
    """Reconstruct reading order for multi-column pages: assign each
    block to a column by its x0 position (equal-width bands), then
    order column-major — left column top-to-bottom, then the next
    column — the standard 2-column academic/report layout rule.

    Output: (doc_id, page_num, block_idx, col_idx, read_order) where
    read_order is 1-based within the page. One window keyed by
    (doc_id, page_num): shuffle-free on a doc-bucketed table.

    The column boundary uses the blocks' own ``page_width`` column when
    the table carries one (A4 is 595 pt, landscape wider — a constant
    612 would misassign boundary blocks); PAGE_WIDTH is only the
    fallback for width-less tables.
    """
    if "page_width" in blocks.columns:
        col_w = F.coalesce(F.col("page_width"), F.lit(PAGE_WIDTH)) / N_COLS
    else:
        col_w = F.lit(PAGE_WIDTH / N_COLS)
    col_idx = F.least(
        F.greatest(F.floor(F.col("x0") / col_w).cast("int"), F.lit(0)),
        F.lit(N_COLS - 1),
    )
    w = W.partitionBy("doc_id", "page_num").orderBy(
        F.asc("col_idx"), F.asc("y0"), F.asc("x0"), F.asc("block_idx")
    )
    return (
        blocks.select(
            "doc_id", "page_num", "block_idx", "y0", "x0",
            col_idx.alias("col_idx"),
        )
        .withColumn("read_order", F.row_number().over(w))
        .select("doc_id", "page_num", "block_idx", "col_idx", "read_order")
    )
