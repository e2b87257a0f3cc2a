"""Scalable fill-down (last-non-null carry-forward) over a global order.

The reference's record-boundary state — "the current trial id" carried
line to line (scan.py:341-351) — is a fill-down of the anchor value over
the global line order. The naive ``last(value, ignorenulls) OVER (ORDER
BY line_no)`` sorts the whole table in ONE partition (SURVEY §7 hard
item 1). Here the order is cut into segments ``order >> 33``: with the
``monotonically_increasing_id`` line numbers of ``parse.number_lines``
one segment is one scanned file split.

1. inside a segment, ``last(anchor, ignorenulls)`` over a window
   partitioned by segment — a per-split sort, never a global one;
2. rows before their segment's first anchor take a carry-in: the last
   anchor of the nearest earlier segment. It comes from a one-row-per-
   segment summary (``max_by(anchor, order)``), collected to the driver
   and broadcast-joined back on the segment id — bounded by the split
   count, never by the data.

Exact for any order values: small ids all fall into segment 0, which is
the naive window inside one partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

SEGMENT_SHIFT = 33  # monotonically_increasing_id keeps the row index in the low 33 bits


def fill_down(lines: DataFrame, order_col: str, anchor_col: str, out_col: str) -> DataFrame:
    """Add ``out_col`` = the last non-null ``anchor_col`` at or before each
    row (by ``order_col``). Rows before the first anchor get NULL.
    """
    keyed = lines.withColumn("_seg", F.shiftright(F.col(order_col), SEGMENT_SHIFT))
    # max_by skips null orderings: a segment without anchors gets NULL
    summary = keyed.groupBy("_seg").agg(
        F.max_by(anchor_col, F.when(F.col(anchor_col).isNotNull(), F.col(order_col))).alias("_last")
    ).collect()
    carry_rows, carry = [], None
    for r in sorted(summary, key=lambda r: r["_seg"]):
        carry_rows.append((r["_seg"], carry))
        if r["_last"] is not None:
            carry = r["_last"]
    anchor_type = lines.schema[anchor_col].dataType.simpleString()
    carry_in = lines.sparkSession.createDataFrame(carry_rows, f"_seg bigint, _carry {anchor_type}")

    w = W.partitionBy("_seg").orderBy(order_col).rowsBetween(W.unboundedPreceding, 0)
    filled = F.coalesce(F.last(anchor_col, ignorenulls=True).over(w), F.col("_carry"))
    joined = keyed.join(F.broadcast(carry_in), "_seg", "left")
    return joined.withColumn(out_col, filled).drop("_seg", "_carry")
