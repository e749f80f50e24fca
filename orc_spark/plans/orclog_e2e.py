"""The reference's full analytics workload as one pipeline (SURVEY §2.B
Q1-Q7): parse the firmware log → median-filter each metric per run → jerk →
per-run RMS/min/max → per-group means → Welch one-sided t-tests, all four
metrics (accel/pitch/roll/jerk) — the engine's equivalent of one complete
`main.py` execution minus the PNGs.

Plan shape (this is the whole point): ONE window stage computes all three
median filters plus the jerk gradient; ONE per-run aggregation computes all
12 (metric × rms/min/max) statistics; ONE global aggregation of conditional
aggregates (operators/stats.welch_sides) computes every per-side
mean/variance/count the Welch tests need, so the upstream runs once. Two
shuffles end-to-end regardless of how many metrics/tests ride on top — the
same multi-aggregate-single-pass structure the reference hand-codes
(main.py:73-76, 109-115).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from orc_spark.operators.stats import p_value, welch_sides, welch_t
from orc_spark.operators.timeseries import median_filter, np_gradient
from orc_spark.sources.orclog import parse_orclog

RUN = ["file", "actuators_enabled", "run_idx"]

# (report label, filtered column, derivative?)
METRICS = [
    ("accel", "accel_g", False),
    ("pitch", "pitch_deg", False),
    ("roll", "roll_deg", False),
    ("jerk", "accel_g", True),
]

# stat column → one-sided alternative (main.py:113-115)
ALTS = {"rms": "less", "min": "greater", "max": "less"}


def orclog_full_report(spark: SparkSession, paths) -> DataFrame:
    """One row per metric: group averages for both populations + the three
    Welch tests (t, p)."""
    parsed = parse_orclog(spark, paths)

    # one window stage: 3 median filters + jerk
    filt = parsed
    for label, src, deriv in METRICS:
        if not deriv:
            filt = median_filter(filt, src, RUN, "sample_idx", 15, f"f_{label}")
    filt = np_gradient(filt, "f_accel", RUN, "sample_idx", "f_jerk")

    # one per-run aggregation: 12 statistics
    aggs = []
    for label, _src, _d in METRICS:
        c = F.col(f"f_{label}")
        aggs += [
            F.sqrt(F.avg(c * c)).alias(f"rms_{label}"),
            F.min(c).alias(f"min_{label}"),
            F.max(c).alias(f"max_{label}"),
        ]
    per_run = filt.groupBy(*RUN).agg(*aggs)

    # one global aggregation: per-side mean/var/count of every statistic
    stats = [f"{stat}_{label}" for label, _s, _d in METRICS for stat in ALTS]
    wide = welch_sides(per_run, F.col("actuators_enabled"), stats)

    # reshape to one row per metric via explode-of-structs — a single select
    # over the single wide row (a union of per-metric selects would recompute
    # the whole upstream once per metric)
    metric_structs = []
    for label, _src, deriv in METRICS:
        fields = [
            F.lit(label).alias("metric"),
            F.lit(deriv).alias("derivative"),
            F.col("n_on").alias("n_runs_on"),
            F.col("n_off").alias("n_runs_off"),
        ]
        for stat, alt in ALTS.items():
            c = f"{stat}_{label}"
            t, dof = welch_t(c)
            fields += [
                F.col(f"avg_{c}_on").alias(f"avg_{stat}_on"),
                F.col(f"avg_{c}_off").alias(f"avg_{stat}_off"),
                t.alias(f"t_{stat}"),
                p_value(t, dof, alt).alias(f"p_{stat}"),
            ]
        metric_structs.append(F.struct(*fields))
    return wide.select(
        F.explode(F.array(*metric_structs)).alias("m")
    ).select("m.*")
