"""Offline fund-selection analysis — the reference's
``utils/result_analyse.analyse()`` (:35-90) as ONE declarative query.

Reference semantics, line-cited:
  * floor filter: manager tenure > 3y AND sharpe present
    (result_analyse.py:51,57-58)
  * 3-way categorize: '债' in fund_type -> debt; tenure > 10y AND
    increase_3y present -> long-bull; else other (:52,60-69)
  * debt/other: top-200 by sharpe, then top-5/10 of those by 3y-increase
    (:24-32,38-40,74-90); long-bull: top-10 by 3y-increase (:27-28,82)
  * percent strings parsed float(increase[:-1]) (:66,78,88)

Divergence (documented, SURVEY.md §2.5): ties break by fund_code ASC —
the reference's heap pops an arbitrary row among equal keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.parse import percent_to_double
from .topk import grouped_topk

K_SHARPE_DEBT = 200
K_SHARPE_OTHER = 200
K_INC_DEBT = 5
K_INC_OTHER = 10
K_LONG = 10
YEARS_FLOOR = 3
YEARS_LONG = 10


def categorize(result_df: DataFrame, as_of: str) -> DataFrame:
    """String-typed 12-col result table -> filtered + categorized typed
    rows. ``as_of`` is a fixed analysis date (the reference uses
    date.today(); fixing it makes runs reproducible)."""
    df = result_df.select(
        "fund_code",
        "fund_type",
        F.to_date("date_of_appointment").alias("appt"),
        F.col("sharpe_3y").cast("double").alias("sharpe_3y"),
        percent_to_double(F.col("increase_3y")).alias("increase_3y_pct"),
    )
    tenure = F.datediff(F.lit(as_of).cast("date"), F.col("appt"))
    return (
        df.withColumn("tenure_days", tenure)
        # floor: tenure > 3y and sharpe present (result_analyse.py:57-58)
        .filter((F.col("tenure_days") > 365 * YEARS_FLOOR) & F.col("sharpe_3y").isNotNull())
        .withColumn(
            "category",
            F.when(F.instr("fund_type", "债") > 0, F.lit("debt"))
            .when(
                (F.col("tenure_days") > 365 * YEARS_LONG)
                & F.col("increase_3y_pct").isNotNull(),
                F.lit("long"),
            )
            .otherwise(F.lit("other")),
        )
    )


def select_funds(result_df: DataFrame, as_of: str) -> DataFrame:
    """Full two-stage selection. Output: (category, rank, fund_code,
    sharpe_3y, increase_3y_pct)."""
    cat = categorize(result_df, as_of)

    # stage 1: debt/other keep top-200 by sharpe (tie: fund_code asc).
    debt_other = cat.filter(F.col("category") != "long")
    stage1 = grouped_topk(
        debt_other,
        ["category"],
        ["sharpe_3y"],
        K_SHARPE_OTHER,
        tiebreak=["fund_code"],
        rank_col="sharpe_rank",
    ).drop("sharpe_rank")

    # stage 2: of those, top-5 (debt) / top-10 (other) by 3y increase
    stage2 = grouped_topk(
        stage1.filter(F.col("increase_3y_pct").isNotNull()),
        ["category"],
        ["increase_3y_pct"],
        K_INC_OTHER,
        tiebreak=["fund_code"],
    ).filter(
        (F.col("category") == "other")
        | ((F.col("category") == "debt") & (F.col("rank") <= K_INC_DEBT))
    )

    # long-bull: single-stage top-10 by increase
    long_sel = grouped_topk(
        cat.filter(F.col("category") == "long"),
        ["category"],
        ["increase_3y_pct"],
        K_LONG,
        tiebreak=["fund_code"],
    )

    out_cols = ["category", "rank", "fund_code", "sharpe_3y", "increase_3y_pct"]
    return stage2.select(*out_cols).unionByName(long_sel.select(*out_cols))
