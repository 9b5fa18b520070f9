"""Bounded top-K per group — the Spark rewrite of the reference's
min-heap ``FundFolder`` (utils/result_analyse.py:93-124).

``grouped_topk`` is ONE exact ``row_number() OVER (PARTITION BY g ORDER
BY k DESC)`` window filtered to ``rank <= k``. Spark 3.5+ plans that
filter as a map-side partial ``WindowGroupLimit`` below the shuffle, so
each map task forwards at most k rows per group and a dominant group
never sends more than ``tasks * k`` rows to its reducer.

Ties break deterministically by ``tiebreak`` columns ascending — a
documented divergence from the reference, whose heap eviction pops an
arbitrary row among equals (result_analyse.py:108-112).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _order(order_by: list[Column | str], tiebreak: list[str]) -> list[Column]:
    cols = [F.col(c).desc() if isinstance(c, str) else c for c in order_by]
    return cols + [F.col(t).asc() for t in tiebreak]


def grouped_topk(
    df: DataFrame,
    group_cols: list[str],
    order_by: list[Column | str],
    k: int,
    tiebreak: list[str] = (),
    rank_col: str = "rank",
) -> DataFrame:
    """Exact per-group top-K.

    ``order_by``: str means 'that column descending'; pass Column for
    custom direction. Result keeps all input columns + ``rank_col``.
    """
    w = Window.partitionBy(*group_cols).orderBy(*_order(list(order_by), list(tiebreak)))
    return df.withColumn(rank_col, F.row_number().over(w)).filter(F.col(rank_col) <= k)
