"""Ranked-selection operators (the reference's positional patterns).

W3: is_first mention of an entity in document order (start, -end)
    (document.py:64-70, order key document.py:23); plus a generic
    top-k.  W1 (top-1 per key) is q03's row_number window and W2
    (first candidate satisfying a predicate) is
    ``operators.lookups.first_on_category`` (q35).

The first-mention mark is a window function — per-key partial
ordering, no global sort; top-k is a sort+limit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def mark_first_mention(
    annotations: DataFrame,
    doc_col: str = "docid",
    eid_col: str = "eid",
    start_col: str = "start",
    end_col: str = "end",
) -> DataFrame:
    """W3: ``is_first`` marks the first mention of each entity per doc,
    order (start, -end)."""
    w = Window.partitionBy(doc_col, eid_col).orderBy(
        F.asc(start_col), F.desc(end_col)
    )
    return annotations.withColumn("is_first", F.row_number().over(w) == 1)


def topk_by(df: DataFrame, order: list[Column], k: int) -> DataFrame:
    """Global top-k: sort+limit (Spark's TakeOrderedAndProject avoids a
    full sort)."""
    return df.orderBy(*order).limit(k)
