"""Grouped-aggregate Pandas UDF (UDAF) — the one UDF shape the rest of
the engine doesn't exercise (SURVEY §2.10 general surface: pandas_udf
grouped-agg). Arrow-batched: each group's column arrives as one pandas
Series; the return is a scalar per group.

Used only where built-ins genuinely can't express the aggregate — here
median absolute deviation (a robust spread measure needing two dependent
medians). The oracle computes the same thing relationally (two
quantile_cont passes); numpy's median and DuckDB's quantile_cont both use
average-of-middle-two interpolation, so results are bit-comparable.
"""

from __future__ import annotations

import pandas as pd

from .helpers import T
from .registry import query


@query(
    "udaf_median_abs_deviation",
    oracle="""
WITH med AS (
  SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS m
  FROM lineitem GROUP BY 1
)
SELECT l.l_returnflag AS l_returnflag,
       round(quantile_cont(abs(l.l_quantity - med.m), 0.5), 6) AS mad_qty,
       count(*) AS n
FROM lineitem l JOIN med ON l.l_returnflag = med.l_returnflag
GROUP BY l.l_returnflag
ORDER BY l.l_returnflag
""",
    tags=("udaf", "pandas_udf", "robust-stats"),
)
def udaf_median_abs_deviation(spark, sf_dir):
    """Median absolute deviation of quantity per return flag via a
    grouped pandas UDF. Scale note: a grouped pandas pass materializes
    each group's column in one worker — fine for bounded groups (3 flags);
    for high-cardinality groups prefer the two-pass relational form the
    oracle uses (or approx_percentile).

    One grouped pass computes BOTH the MAD and the count
    (optimization r14, guide §2.3): grouped-AGG pandas UDFs can't mix
    with JVM aggregates in one agg, so the old shape ran a second
    groupBy for the count and joined — two shuffles of lineitem (the
    pandas one ships every row) for one logical pass. applyInPandas
    yields (flag, mad, n) from the single full-row shuffle; the pandas
    median arithmetic is unchanged."""
    li = T(spark, sf_dir, "lineitem").select("l_returnflag", "l_quantity")

    def _mad_n(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf["l_quantity"]
        med = v.median()
        return pd.DataFrame(
            {
                "l_returnflag": [pdf["l_returnflag"].iloc[0]],
                "mad_qty": [round(float((v - med).abs().median()), 6)],
                "n": [len(v)],
            }
        )

    return (
        li.groupBy("l_returnflag")
        .applyInPandas(_mad_n, "l_returnflag string, mad_qty double, n bigint")
        .orderBy("l_returnflag")
    )
