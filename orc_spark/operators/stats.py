"""Statistics pack (reference operators O20/O21/O22).

Two-level aggregation (per-run stats → per-group means) is native Spark
partial/final aggregation. The Welch t-test is a closed-form expression over
per-side (n, mean, var) aggregates — conditional aggregates of ONE global
aggregation, so every upstream stage runs once and no join is needed — with
the Student-t CDF evaluated in a vectorized pandas UDF, i.e. Python only
touches a handful of rows, never the data. ``welch_sides``/``welch_t``/
``p_value`` are the one Welch rule shared by ``welch_ttest`` and the two
full-report plans (plans/orclog_e2e.py, plans/e2e_q.py).
"""

from __future__ import annotations

from typing import Sequence

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType


def rms(col: Column | str) -> Column:
    """Root-mean-square aggregate: sqrt(mean(x^2)) (reference main.py:73-76)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sqrt(F.avg(c * c))


def run_stats(
    df: DataFrame,
    value_col: str,
    run_cols: Sequence[str],
) -> DataFrame:
    """Per-run RMS / min / max in ONE pass (single partial+final aggregation)."""
    c = F.col(value_col)
    return df.groupBy(*run_cols).agg(
        rms(c).alias("rms"),
        F.min(c).alias("min_val"),
        F.max(c).alias("max_val"),
        F.count(F.lit(1)).alias("n_samples"),
    )


def group_means(stats_df: DataFrame, group_cols: Sequence[str]) -> DataFrame:
    """Per-group averages of per-run stats — the golden 'Average RMS/Min/Max'
    (reference main.py:109-112, ORC Result Summary.pdf p.1)."""
    return stats_df.groupBy(*group_cols).agg(
        F.avg("rms").alias("avg_rms"),
        F.avg("min_val").alias("avg_min"),
        F.avg("max_val").alias("avg_max"),
        F.count(F.lit(1)).alias("n_runs"),
    )


# DataType instance (not DDL string) so the decorator works without an
# active SparkContext at import time. The UDF only ever sees a handful of
# rows (one per tested metric), so the Python boundary cost is nil. SQL
# users get the same UDF as orc_t_cdf (functions/register.py).
@pandas_udf(DoubleType())
def _t_cdf(t: pd.Series, dof: pd.Series) -> pd.Series:
    from orc_spark.functions.stat_math import student_t_cdf

    return pd.Series(student_t_cdf(t.to_numpy(), dof.to_numpy()))


def welch_sides(df: DataFrame, on: Column, cols: Sequence[str]) -> DataFrame:
    """One global aggregate of the two populations ``on`` and ``NOT on``:
    ``n_on``/``n_off`` (row counts, double) and ``avg_<c>_on``/``var_<c>_on``/
    ``avg_<c>_off``/``var_<c>_off`` for every column c. Rows where ``on`` is
    NULL belong to neither side. One row, or none when a side is empty
    (the global aggregate alone would emit a row of NULLs there)."""
    aggs = []
    for side, cond in (("on", on), ("off", ~on)):
        aggs.append(F.count(F.when(cond, 1)).cast("double").alias(f"n_{side}"))
        for c in cols:
            x = F.when(cond, F.col(c))
            aggs += [
                F.avg(x).alias(f"avg_{c}_{side}"),
                F.var_samp(x).alias(f"var_{c}_{side}"),
            ]
    return df.agg(*aggs).where((F.col("n_on") > 0) & (F.col("n_off") > 0))


def welch_t(c: str) -> tuple[Column, Column]:
    """Welch (t, dof) of column c over ``welch_sides`` output, population a =
    on. Zero variance on BOTH sides makes sqrt(se2) and the dof denominator
    exactly 0: NULL, not an ANSI DIVIDE_BY_ZERO (scipy: NaN); n=1 sides are
    already NULL via var_samp."""
    n1, n2 = F.col("n_on"), F.col("n_off")
    q1 = F.col(f"var_{c}_on") / n1
    q2 = F.col(f"var_{c}_off") / n2
    se2 = q1 + q2
    t = (F.col(f"avg_{c}_on") - F.col(f"avg_{c}_off")) / F.nullif(
        F.sqrt(se2), F.lit(0.0)
    )
    dof = (se2 * se2) / F.nullif(
        q1 * q1 / (n1 - 1) + q2 * q2 / (n2 - 1), F.lit(0.0)
    )
    return t, dof


def p_value(t: Column, dof: Column, alternative: str) -> Column:
    """p of the t statistic: 'less' | 'greater' | 'two-sided' (one-sided as
    in the reference: RMS 'less', min 'greater', max 'less')."""
    cdf = _t_cdf(t, dof)
    if alternative == "less":
        return cdf
    if alternative == "greater":
        return F.lit(1.0) - cdf
    if alternative == "two-sided":
        return F.lit(2.0) * F.least(cdf, F.lit(1.0) - cdf)
    raise ValueError(f"unknown alternative: {alternative}")


def welch_ttest(
    df: DataFrame,
    value_col: str,
    group_col: str | Column,
    alternative: str = "two-sided",
) -> DataFrame:
    """Welch two-sample t-test, ``scipy.stats.ttest_ind(a, b, equal_var=False,
    alternative=...)`` semantics (reference main.py:113-115).

    ``group_col`` must be boolean; population *a* is group_col==true (for the
    reference pipeline: actuators enabled — first in file order, main.py:113).
    Returns one row: (t_stat, dof, p_value), none if a population is empty.
    Sample variance (ddof=1) matches numpy/scipy. Degenerate inputs (n<2,
    zero variance) produce null where scipy gives NaN.
    """
    gcol = F.col(group_col) if isinstance(group_col, str) else group_col
    t, dof = welch_t(value_col)
    return welch_sides(df, gcol, [value_col]).select(
        t.alias("t_stat"), dof.alias("dof")
    ).withColumn("p_value", p_value(F.col("t_stat"), F.col("dof"), alternative))
