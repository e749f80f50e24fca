"""ORCLOG operator pack exposed over the driver's `events` table
(user_id ≈ run, ts order ≈ sample order) so every reference operator
(SURVEY §2.B Q2-Q10) has a DuckDB-hash-checkable entry. The same operators
run on the real firmware log in tests/test_orclog_golden.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from orc_spark.operators.control import corner_transform
from orc_spark.operators.stats import group_means, run_stats, welch_ttest
from orc_spark.operators.timeseries import (
    deadband,
    locf,
    median_filter,
    np_gradient,
    peak_reject_locf,
)
from orc_spark.plans import Query
from orc_spark.sources.tables import load_table

RUN = ["user_id"]
ORD = "ord"


def _series(spark: SparkSession, sf: str) -> DataFrame:
    """events as ordered per-user series with a dense ordinal (sample_idx
    analog, O17): deterministic ordering on (ts, event_id)."""
    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        "event_type",
        "value",
        (F.row_number().over(w) - 1).cast("bigint").alias(ORD),
    )


_SERIES_SQL = """
  SELECT user_id, event_id, event_type, value,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1
              AS BIGINT) AS ord
  FROM events
"""


# --- O18: zero-padded median filter (k=15) ----------------------------------

def ts_medfilt(spark: SparkSession, sf: str) -> DataFrame:
    s = _series(spark, sf)
    return median_filter(s, "value", RUN, ORD, 15, "value_medfilt").select(
        "user_id", "event_id", "value", "value_medfilt"
    )


def _medfilt_sql(k: int = 15) -> str:
    half = k // 2
    elems = ", ".join(
        f"coalesce(lag(value, {i}) OVER w, 0.0)" for i in range(half, 0, -1)
    )
    elems += ", coalesce(value, 0.0), "
    elems += ", ".join(
        f"coalesce(lead(value, {i}) OVER w, 0.0)" for i in range(1, half + 1)
    )
    return f"""
WITH s AS ({_SERIES_SQL})
SELECT user_id, event_id, value,
       list_sort([{elems}])[{half + 1}] AS value_medfilt
FROM s
WINDOW w AS (PARTITION BY user_id ORDER BY ord)
"""


# --- O19: np.gradient -------------------------------------------------------

def ts_gradient(spark: SparkSession, sf: str) -> DataFrame:
    s = _series(spark, sf)
    return np_gradient(s, "value", RUN, ORD, "value_grad").select(
        "user_id", "event_id", "value_grad"
    )


TS_GRADIENT_SQL = f"""
WITH s AS ({_SERIES_SQL})
SELECT user_id, event_id,
       CASE
         WHEN lag(value) OVER w IS NULL AND lead(value) OVER w IS NULL THEN 0.0
         WHEN lag(value)  OVER w IS NULL THEN lead(value) OVER w - value
         WHEN lead(value) OVER w IS NULL THEN value - lag(value) OVER w
         ELSE (lead(value) OVER w - lag(value) OVER w) / 2.0
       END AS value_grad
FROM s
WINDOW w AS (PARTITION BY user_id ORDER BY ord)
"""


# --- O8: deadband -----------------------------------------------------------

def ts_deadband(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    # floor scaled up: events values are O(10), the firmware floor 0.003 g is
    # for O(0.1) signals; use 1.0 to actually exercise both branches
    out = deadband(ev, "value", 1.0, "value_db")
    return out.select("event_id", "value", "value_db")


TS_DEADBAND_SQL = """
SELECT event_id, value,
       CASE WHEN value >  1.0 THEN value - 1.0
            WHEN value < -1.0 THEN value + 1.0
            ELSE 0.0 END AS value_db
FROM events
"""


# --- O3: peak rejection with LOCF ------------------------------------------

def ts_peak_reject(spark: SparkSession, sf: str) -> DataFrame:
    s = _series(spark, sf)
    out = peak_reject_locf(
        s, "value", "value", threshold=18, partition_cols=RUN, order_col=ORD,
        out_col="value_pr", faithful_quirk=False,
    )
    return out.select("user_id", "event_id", "value_pr")


TS_PEAK_REJECT_SQL = f"""
WITH s AS ({_SERIES_SQL})
SELECT user_id, event_id,
       last_value(CASE WHEN abs(value) < 18 THEN value END IGNORE NULLS)
         OVER (PARTITION BY user_id ORDER BY ord
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_pr
FROM s
"""


# --- LOCF over injected nulls ----------------------------------------------

def ts_locf(spark: SparkSession, sf: str) -> DataFrame:
    s = _series(spark, sf)
    # deterministic null injection: error events lose their value
    s = s.withColumn(
        "value_gapped", F.when(F.col("event_type") != "error", F.col("value"))
    )
    out = locf(s, "value_gapped", RUN, ORD, "value_locf")
    return out.select("user_id", "event_id", "value_gapped", "value_locf")


TS_LOCF_SQL = f"""
WITH s AS ({_SERIES_SQL})
SELECT user_id, event_id,
       CASE WHEN event_type <> 'error' THEN value END AS value_gapped,
       last_value(CASE WHEN event_type <> 'error' THEN value END IGNORE NULLS)
         OVER (PARTITION BY user_id ORDER BY ord
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_locf
FROM s
"""


# --- O20/O21: per-run stats + group means ----------------------------------

def ts_runstats(spark: SparkSession, sf: str) -> DataFrame:
    s = median_filter(_series(spark, sf), "value", RUN, ORD, 15, "f")
    return run_stats(s, "f", ["user_id"]).select(
        "user_id", "rms", "min_val", "max_val", "n_samples"
    )


TS_RUNSTATS_SQL_FULL = f"""
WITH s AS ({_SERIES_SQL}),
f AS (
  SELECT user_id,
         {"list_sort([" + ", ".join(f"coalesce(lag(value, {i}) OVER w, 0.0)" for i in range(7, 0, -1)) + ", coalesce(value, 0.0), " + ", ".join(f"coalesce(lead(value, {i}) OVER w, 0.0)" for i in range(1, 8)) + "])[8]"} AS f
  FROM s
  WINDOW w AS (PARTITION BY user_id ORDER BY ord)
)
SELECT user_id,
       sqrt(avg(f * f)) AS rms,
       min(f)           AS min_val,
       max(f)           AS max_val,
       count(*)         AS n_samples
FROM f
GROUP BY user_id
"""


def ts_groupmeans(spark: SparkSession, sf: str) -> DataFrame:
    s = median_filter(_series(spark, sf), "value", ["user_id", "event_type"], ORD, 15, "f")
    per_run = run_stats(s, "f", ["user_id", "event_type"])
    return group_means(per_run, ["event_type"]).select(
        "event_type", "avg_rms", "avg_min", "avg_max", "n_runs"
    )


# note: runs here are (user_id, event_type) series; medfilt windows follow the
# same partitioning
_SERIES_BY_TYPE_SQL = """
  SELECT user_id, event_id, event_type, value,
         CAST(row_number() OVER (PARTITION BY user_id, event_type
                                 ORDER BY ts, event_id) - 1 AS BIGINT) AS ord
  FROM events
"""

TS_GROUPMEANS_SQL = f"""
WITH s AS ({_SERIES_BY_TYPE_SQL}),
f AS (
  SELECT user_id, event_type,
         {"list_sort([" + ", ".join(f"coalesce(lag(value, {i}) OVER w, 0.0)" for i in range(7, 0, -1)) + ", coalesce(value, 0.0), " + ", ".join(f"coalesce(lead(value, {i}) OVER w, 0.0)" for i in range(1, 8)) + "])[8]"} AS f
  FROM s
  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ord)
),
per_run AS (
  SELECT user_id, event_type,
         sqrt(avg(f * f)) AS rms, min(f) AS min_val, max(f) AS max_val
  FROM f GROUP BY user_id, event_type
)
SELECT event_type,
       avg(rms)     AS avg_rms,
       avg(min_val) AS avg_min,
       avg(max_val) AS avg_max,
       count(*)     AS n_runs
FROM per_run
GROUP BY event_type
"""


# --- O22: Welch t-test ------------------------------------------------------

def ts_welch(spark: SparkSession, sf: str) -> DataFrame:
    """t statistic + dof only (closed form, SQL-checkable); populations =
    per-user RMS of 'click' vs 'view' events."""
    ev = load_table(spark, sf, "events")
    per_run = (
        ev.where(F.col("event_type").isin("click", "view"))
        .groupBy("user_id", "event_type")
        .agg(F.sqrt(F.avg(F.col("value") * F.col("value"))).alias("rms"))
    )
    return welch_ttest(per_run, "rms", F.col("event_type") == "click").select(
        "t_stat", "dof"
    )


TS_WELCH_SQL = """
WITH per_run AS (
  SELECT user_id, event_type, sqrt(avg(value * value)) AS rms
  FROM events WHERE event_type IN ('click', 'view')
  GROUP BY user_id, event_type
),
g AS (
  SELECT event_type,
         CAST(count(*) AS DOUBLE) AS n,
         avg(rms)                 AS m,
         var_samp(rms)            AS v
  FROM per_run GROUP BY event_type
)
SELECT (a.m - b.m) / NULLIF(sqrt(a.v / a.n + b.v / b.n), 0) AS t_stat,
       pow(a.v / a.n + b.v / b.n, 2)
         / NULLIF(pow(a.v / a.n, 2) / (a.n - 1)
                  + pow(b.v / b.n, 2) / (b.n - 1), 0) AS dof
FROM (SELECT * FROM g WHERE event_type = 'click') a,
     (SELECT * FROM g WHERE event_type = 'view') b
"""


def ts_welch_p(spark: SparkSession, sf: str) -> DataFrame:
    """Full test incl. p-value. DuckDB has no t distribution, so the oracle
    REPLICATES the engine's Student-t CDF (regularized incomplete beta via
    modified-Lentz continued fraction, functions/stat_math.py) inside a
    recursive CTE — same double-precision operation sequence, verified
    bit-identical across the tested (t, dof) domain. The CDF is additionally
    validated against numerical integration in tests/test_stat_math.py."""
    ev = load_table(spark, sf, "events")
    per_run = (
        ev.where(F.col("event_type").isin("click", "view"))
        .groupBy("user_id", "event_type")
        .agg(F.sqrt(F.avg(F.col("value") * F.col("value"))).alias("rms"))
    )
    return welch_ttest(
        per_run, "rms", F.col("event_type") == "click", alternative="less"
    ).select("t_stat", "dof", "p_value")


# Student-t CDF in pure SQL: the SAME modified-Lentz continued fraction the
# engine computes (functions/stat_math.py _betacf/_betainc_scalar), iterated
# through a recursive CTE with the identical double-precision operation
# sequence and guards — verified bit-identical to the Python implementation
# over the tested (t, dof) domain. CASTs on the seed row matter: DuckDB float
# literals are DECIMAL, and decimal arithmetic would destroy the fraction.
TS_WELCH_P_SQL = f"""
WITH RECURSIVE
td AS ({TS_WELCH_SQL}),
params AS (
  SELECT t_stat, dof, dof/2.0 AS a0, CAST(0.5 AS DOUBLE) AS b0,
         dof/(dof + t_stat*t_stat) AS x0
  FROM td
),
branch AS (
  SELECT *,
         (x0 < (a0 + 1.0)/(a0 + b0 + 2.0)) AS direct,
         CASE WHEN x0 < (a0 + 1.0)/(a0 + b0 + 2.0) THEN a0 ELSE b0 END AS A,
         CASE WHEN x0 < (a0 + 1.0)/(a0 + b0 + 2.0) THEN b0 ELSE a0 END AS B,
         CASE WHEN x0 < (a0 + 1.0)/(a0 + b0 + 2.0) THEN x0 ELSE 1.0 - x0 END AS X
  FROM params
),
cf(m, c, d, h, done) AS (
  SELECT 0, CAST(1.0 AS DOUBLE),
         CAST(1.0 AS DOUBLE) / (CASE WHEN abs(1.0 - ((A + B) * X) / (A + 1.0)) < 1e-300
                                     THEN 1e-300 ELSE 1.0 - ((A + B) * X) / (A + 1.0) END),
         CAST(1.0 AS DOUBLE) / (CASE WHEN abs(1.0 - ((A + B) * X) / (A + 1.0)) < 1e-300
                                     THEN 1e-300 ELSE 1.0 - ((A + B) * X) / (A + 1.0) END),
         FALSE
  FROM branch
  UNION ALL
  SELECT cf.m + 1, s2.c2, s2.d2, s1.h1 * (s2.d2 * s2.c2),
         abs(s2.d2 * s2.c2 - 1.0) < 3.0e-16
  FROM cf, branch b,
  LATERAL (SELECT CAST(cf.m + 1 AS DOUBLE) AS mm,
                  CAST(2 * (cf.m + 1) AS DOUBLE) AS m2) p,
  LATERAL (SELECT ((p.mm * (b.B - p.mm)) * b.X)
                    / (((b.A - 1.0) + p.m2) * (b.A + p.m2)) AS aa1) a1,
  LATERAL (SELECT
      1.0 / (CASE WHEN abs(1.0 + a1.aa1 * cf.d) < 1e-300
                  THEN 1e-300 ELSE 1.0 + a1.aa1 * cf.d END) AS d1,
      CASE WHEN abs(1.0 + a1.aa1 / cf.c) < 1e-300
           THEN 1e-300 ELSE 1.0 + a1.aa1 / cf.c END AS c1) s1a,
  LATERAL (SELECT cf.h * (s1a.d1 * s1a.c1) AS h1) s1,
  LATERAL (SELECT ((-((b.A + p.mm) * ((b.A + b.B) + p.mm))) * b.X)
                    / ((b.A + p.m2) * ((b.A + 1.0) + p.m2)) AS aa2) a2,
  LATERAL (SELECT
      1.0 / (CASE WHEN abs(1.0 + a2.aa2 * s1a.d1) < 1e-300
                  THEN 1e-300 ELSE 1.0 + a2.aa2 * s1a.d1 END) AS d2,
      CASE WHEN abs(1.0 + a2.aa2 / s1a.c1) < 1e-300
           THEN 1e-300 ELSE 1.0 + a2.aa2 / s1a.c1 END AS c2) s2
  WHERE cf.m < 300 AND NOT cf.done
),
hfin AS (SELECT h FROM cf ORDER BY m DESC LIMIT 1),
ibeta AS (
  SELECT CASE
           WHEN b.x0 <= 0.0 THEN 0.0
           WHEN b.x0 >= 1.0 THEN 1.0
           WHEN b.direct
           THEN (exp(lgamma(b.a0 + b.b0) - lgamma(b.a0) - lgamma(b.b0)
                     + b.a0 * ln(b.x0) + b.b0 * ln(1.0 - b.x0)) * hfin.h) / b.a0
           ELSE 1.0 - (exp(lgamma(b.a0 + b.b0) - lgamma(b.a0) - lgamma(b.b0)
                     + b.a0 * ln(b.x0) + b.b0 * ln(1.0 - b.x0)) * hfin.h) / b.b0
         END AS i_x
  FROM branch b, hfin
)
SELECT p.t_stat, p.dof,
       CASE WHEN p.t_stat >= 0 THEN 1.0 - 0.5 * i.i_x ELSE 0.5 * i.i_x END
         AS p_value
FROM params p, ibeta i
"""


# --- O10: corner-force transform -------------------------------------------

def ts_transform(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    forces = ev.select(
        "event_id",
        (F.col("value") * 1000).alias("fz"),
        (F.col("value") * 500).alias("ftheta"),
        (F.col("value") * 250).alias("fphi"),
    )
    return corner_transform(forces, "fz", "ftheta", "fphi").select(
        "event_id", "act1", "act2", "act3", "act4"
    )


# coefficients from ORC_CONFIG.h:58-61 distances, generated from the SAME
# Python doubles the Spark side uses (repr round-trip → bit-identical)
from orc_spark.operators.control import corner_transform_sql as _ct_sql  # noqa: E402

_CT = _ct_sql()
TS_TRANSFORM_SQL = f"""
WITH forces AS (
  SELECT event_id, value * 1000 AS fz, value * 500 AS ftheta, value * 250 AS fphi
  FROM events
)
SELECT event_id,
       {_CT["act1"]},
       {_CT["act2"]},
       {_CT["act3"]},
       {_CT["act4"]}
FROM forces
"""


# --- O7: zero-point calibration --------------------------------------------

def ts_zero_cal(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user baseline from the first 50 samples (the firmware's
    post-stabilization setpoint capture, ORC_Main.c:204-212), broadcast back
    and subtracted."""
    s = _series(spark, sf)
    base = (
        s.where(F.col(ORD) < 50)
        .groupBy("user_id")
        .agg(F.avg("value").alias("baseline"))
    )
    return (
        s.join(F.broadcast(base), "user_id")
        .select(
            "user_id",
            "event_id",
            (F.col("value") - F.col("baseline")).alias("value_centered"),
        )
    )


TS_ZERO_CAL_SQL = f"""
WITH s AS ({_SERIES_SQL}),
base AS (
  SELECT user_id, avg(value) AS baseline FROM s WHERE ord < 50 GROUP BY user_id
)
SELECT s.user_id, s.event_id, s.value - base.baseline AS value_centered
FROM s JOIN base ON s.user_id = base.user_id
"""



# --- LTTB downsampling (plot-prep, reference plot-sink analog) ---------------

def ts_lttb(spark: SparkSession, sf: str) -> DataFrame:
    """LTTB downsample of each user's event-value series to 6 points
    (operators/downsample.py — integer-exact triangle selection, so the
    chosen points hash-check against the oracle's unrolled 4-bucket SQL)."""
    from orc_spark.operators.downsample import lttb_downsample

    ev = (
        load_table(spark, sf, "events")
        .select("user_id", "event_id", "ts", "value")
        # NULL values would hit an undefined NaN->int64 cast in the
        # fixed-point quantization (same hazard st_goertzel fixed); the
        # recurrence is defined over the non-null sample stream on both
        # engines
        .where(F.col("value").isNotNull())
    )
    return lttb_downsample(ev)


def _lttb_step_sql(step: int) -> str:
    """One unrolled LTTB bucket step: pick from bucket {step-1} the point
    maximizing the integer triangle area against a{step-1} and the next
    bucket's (count-scaled) centroid."""
    k = step - 1
    if k < 3:
        nxt = f"JOIN bs b ON b.user_id = m.user_id AND b.k = {k + 1}"
        cnt, sx, sy = "b.cnt", "b.sx", "b.sy"
    else:
        nxt = "JOIN lastp l ON l.user_id = m.user_id"
        cnt, sx, sy = "CAST(1 AS BIGINT)", "l.x", "l.y"
    return f"""
s{step} AS (
  SELECT m.user_id, m.event_id, m.x, m.y,
         row_number() OVER (
           PARTITION BY m.user_id
           ORDER BY abs((a.x * {cnt} - {sx}) * (m.y - a.y)
                        - (a.x - m.x) * (a.y * {cnt} - {sy})) DESC,
                    m.rn ASC) AS r
  FROM mid m
  JOIN a{step - 1} a ON m.user_id = a.user_id
  {nxt}
  WHERE m.k = {k}
),
a{step} AS (SELECT user_id, event_id, x, y FROM s{step} WHERE r = 1)"""


def _lttb_sql() -> str:
    steps = ",".join(_lttb_step_sql(s) for s in (1, 2, 3, 4))
    sels = "\n  UNION ALL ".join(
        f"SELECT user_id, event_id, {i} AS sel_idx, x, y FROM a{i}"
        for i in range(0, 5)
    )
    return f"""
WITH pts AS (
  SELECT user_id, event_id,
         epoch_us(ts) AS tsu,
         CAST(floor(value * 10000) AS BIGINT) AS y,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts), event_id) AS rn,
         CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n,
         min(epoch_us(ts)) OVER (PARTITION BY user_id) AS t0
  FROM events WHERE value IS NOT NULL
),
base AS (
  SELECT user_id, event_id, rn, n, (tsu - t0) // 1000000 AS x, y FROM pts
),
small AS (
  SELECT user_id, event_id, CAST(rn - 1 AS INTEGER) AS sel_idx, x, y
  FROM base WHERE n <= 6
),
big AS (SELECT * FROM base WHERE n > 6),
mid AS (
  SELECT user_id, event_id, rn, x, y,
         (4 * (rn - 2)) // (n - 2) AS k
  FROM big WHERE rn >= 2 AND rn <= n - 1
),
bs AS (
  SELECT user_id, k, CAST(count(*) AS BIGINT) AS cnt,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy
  FROM mid GROUP BY 1, 2
),
lastp AS (SELECT user_id, event_id, x, y FROM big WHERE rn = n),
a0 AS (SELECT user_id, event_id, x, y FROM big WHERE rn = 1),
{steps}
SELECT user_id, event_id, CAST(sel_idx AS INTEGER) AS sel_idx,
       x AS x_s, y AS y_fp
FROM (
  {sels}
  UNION ALL SELECT user_id, event_id, 5 AS sel_idx, x, y FROM lastp
  UNION ALL SELECT user_id, event_id, sel_idx, x, y FROM small
)
"""


# --- lag autocorrelation (fixed-point exact) ---------------------------------

AC_SCALE = 1000  # keeps n*Sxx < 2^63 with ~80x margin at 10k-row series
AC_LAGS = (1, 2, 3)


def ts_autocorr(spark: SparkSession, sf: str) -> DataFrame:
    """Lag-k autocorrelation of each user's value series (k = 1..3) — the
    periodicity probe of vibration analysis (the reference's domain; its
    t-test compares RMS, this characterizes the structure). All moments
    accumulate in fixed-point BIGINT (value × 1e4): Σx, Σy, Σxy, Σxx, Σyy
    over the lag-aligned pairs are exact integers, and Pearson r is one
    identical float expression — bit-identical cross-engine with no
    ordering caveat. SINGLE-PASS: one scan, ONE window sort computing all
    three lag columns, then `stack` unpivots them to (lag, y) rows so one
    groupBy(user_id, lag) covers every lag — a union of per-lag groupBys
    would re-execute the scan + window sort once per lag (per-branch
    column pruning defeats ReuseExchange)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf, "events").select("user_id", "event_id", "ts", "value")
    v = F.floor(F.col("value") * AC_SCALE).cast("bigint")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    base = ev.select("user_id", v.alias("x"), *[
        F.lag(v, k).over(w).alias(f"y{k}") for k in AC_LAGS
    ])
    stack_args = ", ".join(f"{k}, y{k}" for k in AC_LAGS)
    pairs = base.select(
        "user_id", "x",
        F.expr(f"stack({len(AC_LAGS)}, {stack_args}) AS (lag, y)"),
    ).where(F.col("y").isNotNull())
    y = F.col("y")
    agg = pairs.groupBy("user_id", "lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(F.col("x") * y).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(y * y).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    )
    # Zero-variance guard: a constant series (or n_pairs == 1, where
    # n·Sxx − Sx² is identically 0) makes the Pearson denominator exactly
    # 0.0 and num/den THROWS under ANSI mode. NULLIF on both engines →
    # autocorr is NULL for undefined correlations (matches the replay).
    return agg.select(
        "user_id",
        F.col("lag").cast("int").alias("lag"),
        F.col("n").cast("bigint").alias("n_pairs"),
        F.round(num / F.nullif(den, F.lit(0.0)), 6).alias("autocorr"),
    )


def _autocorr_sql() -> str:
    parts = []
    for k in AC_LAGS:
        parts.append(f"""
SELECT user_id, {k} AS lag,
       CAST(count(*) AS BIGINT) AS n_pairs,
       round(CAST(count(*) * sum(x * y) - sum(x) * sum(y) AS DOUBLE)
             / NULLIF(sqrt(CAST(count(*) * sum(x * x) - sum(x) * sum(x) AS DOUBLE)
                    * CAST(count(*) * sum(y * y) - sum(y) * sum(y) AS DOUBLE)), 0), 6)
         AS autocorr
FROM (
  SELECT user_id,
         CAST(floor(value * {AC_SCALE}) AS BIGINT) AS x,
         lag(CAST(floor(value * {AC_SCALE}) AS BIGINT), {k})
           OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS y
  FROM events
) WHERE y IS NOT NULL
GROUP BY user_id""")
    return "\nUNION ALL\n".join(parts)


# --- mean-crossing rate (vibration oscillation metric) -----------------------

def ts_crossings(spark: SparkSession, sf: str) -> DataFrame:
    """Mean-crossing rate of each user's value series — with RMS
    (ts_runstats) and spectral power (st_goertzel), the third standard
    vibration descriptor: how often the signal crosses its own mean.
    Integer-exact: the centered sign is sign(n·v_fp − Σv_fp) (all BIGINT,
    zero counts as positive), crossings are lag-compare sign changes. One
    window family by user + one combinable groupBy."""
    from pyspark.sql import Window

    ev = load_table(spark, sf, "events").select("user_id", "event_id", "ts", "value")
    v = F.floor(F.col("value") * 1000).cast("bigint")
    wu = Window.partitionBy("user_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    base = ev.select(
        "user_id",
        v.alias("v"),
        F.count(F.lit(1)).over(wu).alias("n"),
        F.sum(v).over(wu).alias("s"),
        F.row_number().over(w).alias("rn"),
    ).select(
        "user_id",
        "n",
        "rn",
        F.when(F.col("n") * F.col("v") - F.col("s") >= 0, 1)
        .otherwise(-1)
        .alias("sgn"),
    )
    flips = base.select(
        "user_id",
        "n",
        (
            F.lag("sgn").over(
                Window.partitionBy("user_id").orderBy("rn")
            )
            != F.col("sgn")
        ).cast("int").alias("flip"),
    )
    return flips.groupBy("user_id").agg(
        F.first("n").cast("bigint").alias("n"),
        F.sum("flip").cast("bigint").alias("crossings"),
        F.round(
            F.sum("flip").cast("double")
            / (F.first("n") - 1).cast("double"),
            6,
        ).alias("crossing_rate"),
    )


TS_CROSSINGS_SQL = """
WITH base AS (
  SELECT user_id,
         CAST(floor(value * 1000) AS BIGINT) AS v,
         CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n,
         CAST(sum(CAST(floor(value * 1000) AS BIGINT))
              OVER (PARTITION BY user_id) AS BIGINT) AS s,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts), event_id) AS rn
  FROM events
),
sgns AS (
  SELECT user_id, n, rn,
         CASE WHEN n * v - s >= 0 THEN 1 ELSE -1 END AS sgn
  FROM base
),
flips AS (
  SELECT user_id, n,
         CAST(lag(sgn) OVER (PARTITION BY user_id ORDER BY rn) <> sgn
              AS INTEGER) AS flip
  FROM sgns
)
SELECT user_id,
       CAST(any_value(n) AS BIGINT) AS n,
       CAST(sum(flip) AS BIGINT) AS crossings,
       round(CAST(sum(flip) AS DOUBLE) / CAST(any_value(n) - 1 AS DOUBLE), 6)
         AS crossing_rate
FROM flips GROUP BY user_id
"""

# --- seasonal (hour-of-day) profile ------------------------------------------

def ts_seasonal(spark: SparkSession, sf: str) -> DataFrame:
    """Hour-of-day seasonal profile per event_type: per-cell counts,
    fixed-point value sums (1e-4 units), the cell mean, and an EXACT
    above/below-type-average deviation via cross-multiplied integers
    (sum_cell·n_type − sum_type·n_cell — no float subtraction of means,
    so the comparison is bit-exact). The deseasonalization baseline every
    anomaly pipeline needs before flagging residuals (ev_anomaly's rolling
    z is the within-series complement).

    100 TB shape: one combinable groupBy over the scan builds the 24×|type|
    cells; type totals roll up FROM the cells (no second scan)."""
    ev = load_table(spark, sf, "events")
    cells = (
        ev.select(
            "event_type",
            F.expr("(ts div 3600000000) % 24").alias("hour"),
            F.round(F.col("value") * 10000, 0).cast("bigint").alias("v_fp"),
        )
        .groupBy("event_type", "hour")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v_fp").alias("sum_fp"))
        .localCheckpoint(eager=False)  # consumed by cells AND type rollup
    )
    totals = cells.groupBy("event_type").agg(
        F.sum("n").alias("n_type"), F.sum("sum_fp").alias("sum_type_fp")
    )
    dev = F.col("sum_fp") * F.col("n_type") - F.col("sum_type_fp") * F.col("n")
    return (
        cells.join(F.broadcast(totals), "event_type")
        .select(
            "event_type",
            "hour",
            "n",
            "sum_fp",
            F.round(
                F.col("sum_fp").cast("double") / F.col("n").cast("double")
                / 10000.0,
                6,
            ).alias("mean_value"),
            dev.cast("bigint").alias("dev_num"),
            (dev > 0).alias("above_type_avg"),
        )
        .coalesce(1)
        .sortWithinPartitions("event_type", "hour")
    )


TS_SEASONAL_SQL = """
WITH cells AS (
  SELECT event_type,
         (epoch_us(ts) // 3600000000) % 24 AS hour,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(round(value * 10000, 0) AS BIGINT)) AS BIGINT)
           AS sum_fp
  FROM events
  GROUP BY event_type, (epoch_us(ts) // 3600000000) % 24
),
totals AS (
  SELECT event_type, CAST(sum(n) AS BIGINT) AS n_type,
         CAST(sum(sum_fp) AS BIGINT) AS sum_type_fp
  FROM cells GROUP BY event_type
)
SELECT c.event_type, c.hour, c.n, c.sum_fp,
       round(CAST(c.sum_fp AS DOUBLE) / CAST(c.n AS DOUBLE) / 10000.0, 6)
         AS mean_value,
       CAST(c.sum_fp * t.n_type - t.sum_type_fp * c.n AS BIGINT) AS dev_num,
       (c.sum_fp * t.n_type - t.sum_type_fp * c.n) > 0 AS above_type_avg
FROM cells c JOIN totals t ON c.event_type = t.event_type
ORDER BY c.event_type, c.hour
"""


# --- time-weighted average (TWAP) --------------------------------------------

def ts_twap(spark: SparkSession, sf: str) -> DataFrame:
    """Time-weighted average value per user-day: each sample holds until
    the next one (LOCF weighting), so Σ(v_i·Δt_i)/ΣΔt_i — the TWAP/VWAP
    shape sampling-rate-robust monitoring needs (a plain mean over-weights
    bursts; ev_anomaly's rolling z inherits that bias, this corrects it).
    A hold that crosses midnight is split across every day it covers
    (sequence-explode of the covered day range), so each user-day's
    weights sum EXACTLY to its covered span — a value held overnight
    counts toward the morning it covered (review fix: the first cut
    dropped carried spans). Weights are integer micros × fixed-point
    value (1e-4 units), bounded ~4e17 per term — inside int64; the final
    division is the only float.

    100 TB shape: one lead window per user, a bounded day-range explode
    (horizon days, not row count), one combinable (user, day) groupBy."""
    ev = load_table(spark, sf, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    day_us = 86400 * 1000000
    spans = (
        ev.select(
            "user_id",
            "ts",
            F.round(F.col("value") * 10000, 0).cast("bigint").alias("v_fp"),
            F.lead("ts").over(w).alias("nxt"),
        )
        .where(F.col("nxt").isNotNull() & (F.col("nxt") > F.col("ts")))
    )
    exploded = spans.select(
        "user_id",
        "ts",
        "v_fp",
        "nxt",
        F.explode(
            F.expr(f"sequence(ts div {day_us}, (nxt - 1) div {day_us})")
        ).alias("day"),
    )
    overlap = F.least(F.col("nxt"), (F.col("day") + 1) * day_us) - F.greatest(
        F.col("ts"), F.col("day") * day_us
    )
    return (
        exploded.select(
            "user_id", "day", (F.col("v_fp") * overlap).alias("wv"),
            overlap.alias("dt"),
        )
        .groupBy("user_id", "day")
        .agg(F.sum("wv").alias("sum_wv"), F.sum("dt").alias("sum_dt"))
        .select(
            "user_id",
            "day",
            "sum_wv",
            "sum_dt",
            F.round(
                F.col("sum_wv").cast("double") / F.col("sum_dt").cast("double")
                / 10000.0,
                6,
            ).alias("twap"),
        )
        .orderBy("user_id", "day")
    )


TS_TWAP_SQL = """
WITH ev AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts, value FROM events
),
spans AS (
  SELECT user_id, ts,
         CAST(round(value * 10000, 0) AS BIGINT) AS v_fp,
         lead(ts) OVER w AS nxt
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
exploded AS (
  SELECT user_id, ts, v_fp, nxt,
         unnest(generate_series(ts // 86400000000,
                                (nxt - 1) // 86400000000)) AS day
  FROM spans WHERE nxt IS NOT NULL AND nxt > ts
)
SELECT user_id, day,
       CAST(sum(v_fp * (least(nxt, (day + 1) * 86400000000)
                        - greatest(ts, day * 86400000000))) AS BIGINT)
         AS sum_wv,
       CAST(sum(least(nxt, (day + 1) * 86400000000)
                - greatest(ts, day * 86400000000)) AS BIGINT) AS sum_dt,
       round(CAST(sum(v_fp * (least(nxt, (day + 1) * 86400000000)
                              - greatest(ts, day * 86400000000))) AS DOUBLE)
             / CAST(sum(least(nxt, (day + 1) * 86400000000)
                        - greatest(ts, day * 86400000000)) AS DOUBLE)
             / 10000.0, 6) AS twap
FROM exploded
GROUP BY user_id, day
ORDER BY user_id, day
"""


# --- Mann-Kendall trend test -------------------------------------------------

def ts_mannkendall(spark: SparkSession, sf: str) -> DataFrame:
    """Mann-Kendall monotonic-trend test per user series: S = Σ_{i<j}
    sign(v_j − v_i) over time-ordered pairs, Kendall's tau = S / C(n,2),
    and the normal-approximation z with continuity correction — the
    nonparametric did-this-drift test (no distribution assumed, robust to
    outliers; the trend complement of st_cusum's changepoint alarm).
    S and the pair count are integers (sign comparisons, never float
    accumulation), so the statistic is exact; tau/z are single float
    expressions from those integers, identical on both engines.

    100 TB shape: the pairwise self-join is per-series O(n²) BY DESIGN —
    series are bounded (run-length ≤ a few hundred samples, same envelope
    the AHRS oracle documents), so pairs per user are bounded and the join
    shuffles once on user_id. Unbounded series would use the O(n log n)
    inversion-count formulation instead."""
    ev = load_table(spark, sf, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    a, b = ev.alias("a"), ev.alias("b")
    pairs = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (
            (F.col("a.ts") < F.col("b.ts"))
            | (
                (F.col("a.ts") == F.col("b.ts"))
                & (F.col("a.event_id") < F.col("b.event_id"))
            )
        ),
    ).select(
        F.col("a.user_id").alias("user_id"),
        F.signum(F.col("b.value") - F.col("a.value")).cast("int").alias("sg"),
    )
    per_user = pairs.groupBy("user_id").agg(
        F.sum("sg").alias("s_stat"), F.count(F.lit(1)).alias("n_pairs")
    )
    n = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    # var(S) = n(n-1)(2n+5)/18 (no ties: values are continuous doubles);
    # z uses the standard ±1 continuity correction
    var = (
        F.col("n")
        * (F.col("n") - 1)
        * (2 * F.col("n") + 5)
    ).cast("double") / 18.0
    z = F.when(
        F.col("s_stat") > 0,
        (F.col("s_stat").cast("double") - 1.0) / F.sqrt(var),
    ).when(
        F.col("s_stat") < 0,
        (F.col("s_stat").cast("double") + 1.0) / F.sqrt(var),
    ).otherwise(F.lit(0.0))
    return (
        per_user.join(n, "user_id")
        .select(
            "user_id",
            "n",
            "s_stat",
            "n_pairs",
            F.round(
                F.col("s_stat").cast("double") / F.col("n_pairs").cast("double"),
                6,
            ).alias("tau"),
            F.round(z, 6).alias("z_stat"),
        )
        .orderBy("user_id")
    )


TS_MANNKENDALL_SQL = """
WITH ev AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts, value FROM events
),
pairs AS (
  SELECT a.user_id,
         CAST(sign(b.value - a.value) AS INTEGER) AS sg
  FROM ev a JOIN ev b
    ON a.user_id = b.user_id
   AND (a.ts < b.ts OR (a.ts = b.ts AND a.event_id < b.event_id))
),
per_user AS (
  SELECT user_id, CAST(sum(sg) AS BIGINT) AS s_stat,
         CAST(count(*) AS BIGINT) AS n_pairs
  FROM pairs GROUP BY user_id
),
nn AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n FROM ev GROUP BY user_id
)
SELECT p.user_id, nn.n, p.s_stat, p.n_pairs,
       round(CAST(p.s_stat AS DOUBLE) / CAST(p.n_pairs AS DOUBLE), 6) AS tau,
       round(CASE
         WHEN p.s_stat > 0 THEN (CAST(p.s_stat AS DOUBLE) - 1.0)
              / sqrt(CAST(nn.n * (nn.n - 1) * (2 * nn.n + 5) AS DOUBLE) / 18.0)
         WHEN p.s_stat < 0 THEN (CAST(p.s_stat AS DOUBLE) + 1.0)
              / sqrt(CAST(nn.n * (nn.n - 1) * (2 * nn.n + 5) AS DOUBLE) / 18.0)
         ELSE 0.0 END, 6) AS z_stat
FROM per_user p JOIN nn ON p.user_id = nn.user_id
ORDER BY p.user_id
"""


# --- MAD robust outlier screening ----------------------------------------------

# 3 sigma-equivalents: 3 · 1.4826 (the normal-consistency constant), folded
# in Python so both engines multiply by the same literal
MAD_THRESH_MULT = 3.0 * 1.4826


def ts_outlier_mad(spark: SparkSession, sf: str) -> DataFrame:
    """Robust outlier screening per user series: median / MAD (median
    absolute deviation) with the standard 3-sigma-equivalent threshold —
    the outlier detector that, unlike z-scores, a single spike cannot mask.
    Emits the per-user robust location/scale and the outlier count.

    Cross-engine: exact interpolated percentile == DuckDB quantile_cont
    (proven by r11's battery); every other float is a single expression on
    identical inputs; the outlier count is an integer aggregate.

    Scale: ONE user-hash exchange serves everything — the median, the MAD
    of deviations and the flag counts are chained window aggregates over
    the same user partition plus one final groupBy that reuses the
    partitioning (the original groupBy-join-groupBy shape recomputed the
    events scan and the median aggregation once per consumer; CLAUDE.md's
    multi-consumer-recompute note, caught in review). Per-user state is
    the series (bounded by the documented run envelope)."""
    w = Window.partitionBy("user_id")
    scored = (
        load_table(spark, sf, "events")
        .select("user_id", "value")
        .withColumn("med", F.expr("percentile(value, 0.5)").over(w))
        .withColumn("adev", F.abs(F.col("value") - F.col("med")))
        .withColumn("mad", F.expr("percentile(adev, 0.5)").over(w))
    )
    return (
        scored.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("med"), 6).alias("med"),
            F.round(F.min("mad"), 6).alias("mad"),
            F.round(F.min("mad") * MAD_THRESH_MULT, 6).alias("threshold"),
            F.sum(
                (F.col("adev") > F.col("mad") * MAD_THRESH_MULT).cast("int")
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
        .select(
            "user_id",
            "n",
            "med",
            "mad",
            "threshold",
            "n_outliers",
            F.round(
                F.col("n_outliers").cast("double") / F.col("n").cast("double"),
                6,
            ).alias("outlier_rate"),
        )
        .orderBy("user_id")
    )


TS_OUTLIER_MAD_SQL = f"""
WITH med AS (
  SELECT user_id, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY user_id
),
dev AS (
  SELECT e.user_id, abs(e.value - m.med) AS adev, m.med
  FROM events e JOIN med m ON m.user_id = e.user_id
),
mad AS (
  SELECT user_id, quantile_cont(adev, 0.5) AS mad, min(med) AS med,
         CAST(count(*) AS BIGINT) AS n
  FROM dev GROUP BY user_id
),
counts AS (
  SELECT d.user_id,
         CAST(sum(CAST(d.adev > m.mad * {MAD_THRESH_MULT!r} AS INTEGER))
              AS BIGINT) AS n_outliers
  FROM dev d JOIN mad m ON m.user_id = d.user_id
  GROUP BY d.user_id
)
SELECT m.user_id AS user_id, m.n AS n,
       round(m.med, 6) AS med,
       round(m.mad, 6) AS mad,
       round(m.mad * {MAD_THRESH_MULT!r}, 6) AS threshold,
       c.n_outliers AS n_outliers,
       round(CAST(c.n_outliers AS DOUBLE) / CAST(m.n AS DOUBLE), 6)
         AS outlier_rate
FROM mad m JOIN counts c ON c.user_id = m.user_id
ORDER BY m.user_id
"""


# --- Theil-Sen robust trend ---------------------------------------------------

TS_DAY_US = 86400000000.0  # µs per day, the slope's time unit


def ts_theilsen(spark: SparkSession, sf: str) -> DataFrame:
    """Theil-Sen robust trend per user series: the median of all pairwise
    slopes (value units per DAY) and the median-residual intercept — the
    slope complement of ts_mannkendall's direction test (MK says "is there
    a trend", Theil-Sen says "how steep", both immune to outliers that
    wreck OLS).

    Cross-engine: each pairwise slope is ONE float expression on identical
    inputs ((Δv) / (Δt_µs / 86400e6) — association mirrored literally in
    the oracle); the medians are exact interpolated percentiles (proven
    cross-engine); nothing float is ever accumulated. Equal-timestamp
    pairs are excluded (zero Δt; standard Theil-Sen skips them).

    100 TB shape: per-series O(n²) pair join BY DESIGN, same bounded-run
    envelope ts_mannkendall documents (series length ≤ a few hundred);
    one shuffle on user_id for the pairs, one user-key join back for the
    intercept residuals."""
    ev = load_table(spark, sf, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    a, b = ev.alias("a"), ev.alias("b")
    pairs = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("a.ts") < F.col("b.ts")),
    ).select(
        F.col("a.user_id").alias("user_id"),
        (
            (F.col("b.value") - F.col("a.value"))
            / ((F.col("b.ts") - F.col("a.ts")) / F.lit(TS_DAY_US))
        ).alias("slope"),
    )
    med = pairs.groupBy("user_id").agg(
        F.expr("percentile(slope, 0.5)").alias("slope_med"),
        F.count(F.lit(1)).alias("n_pairs"),
    )
    resid = ev.join(med, "user_id").select(
        "user_id",
        "slope_med",
        "n_pairs",
        (
            F.col("value")
            - F.col("slope_med") * (F.col("ts") / F.lit(TS_DAY_US))
        ).alias("r"),
    )
    return (
        resid.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("n_pairs").alias("n_pairs"),
            F.min("slope_med").alias("slope_med_raw"),
            F.expr("percentile(r, 0.5)").alias("intercept_raw"),
        )
        # round(…,6) ONLY at the output (repo convention for percentile-based
        # floats, cf. ts_outlier_mad): the residuals above intentionally use
        # the UNROUNDED median so the statistic itself is unchanged — the
        # rounding is just an ulp cushion should the engines' quantile
        # interpolation ever differ in the last bit
        .select(
            "user_id",
            "n",
            "n_pairs",
            F.round("slope_med_raw", 6).alias("slope_med"),
            F.round("intercept_raw", 6).alias("intercept"),
        )
        .orderBy("user_id")
    )


TS_THEILSEN_SQL = """
WITH ev AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts, value FROM events
),
pairs AS (
  SELECT a.user_id,
         (b.value - a.value)
           / (CAST(b.ts - a.ts AS DOUBLE) / CAST(86400000000 AS DOUBLE))
           AS slope
  FROM ev a JOIN ev b
    ON a.user_id = b.user_id AND a.ts < b.ts
),
med AS (
  SELECT user_id, quantile_cont(slope, 0.5) AS slope_med,
         CAST(count(*) AS BIGINT) AS n_pairs
  FROM pairs GROUP BY user_id
),
resid AS (
  SELECT e.user_id, m.slope_med, m.n_pairs,
         e.value - m.slope_med
           * (CAST(e.ts AS DOUBLE) / CAST(86400000000 AS DOUBLE)) AS r
  FROM ev e JOIN med m ON m.user_id = e.user_id
)
SELECT user_id, CAST(count(*) AS BIGINT) AS n,
       min(n_pairs) AS n_pairs,
       round(min(slope_med), 6) AS slope_med,
       round(quantile_cont(r, 0.5), 6) AS intercept
FROM resid GROUP BY user_id
ORDER BY user_id
"""


# --- M4 downsampling (min/max/first/last per time bucket) ---------------------

M4_BUCKETS = 8


def ts_m4(spark: SparkSession, sf: str) -> DataFrame:
    """M4 downsampling (Jugel et al., VLDB 2014 — the error-free
    visualization downsampler): each user's value series is split into
    {M4_BUCKETS} equal time buckets; per bucket emit count, first/last
    timestamps and the four value extrema (min, max, first, last) that make
    pixel-perfect line rendering possible. Complements ts_lttb (perceptual)
    with the exact-envelope variant.

    Cross-engine exact with no tricks: bucket index is pure integer
    arithmetic (trunc div on epoch micros), and every output value is a
    RAW input double selected by min/max/arg-ordering — nothing is
    accumulated, so no fixed-point needed. NULL values are filtered on
    BOTH engines up front: Spark's min_by returns the NULL at the extreme
    position while DuckDB's arg_min skips NULLs (verified divergence), so
    NULL rows must never reach the arg-selection. Plan: ONE shuffle
    (window by user computes span + order rank; the groupBy on (user,
    bucket) reuses the user-hash partitioning so needs no second
    exchange)."""
    ev = (
        load_table(spark, sf, "events")
        .select("user_id", "event_id", "ts", "value")
        .where(F.col("value").isNotNull())
    )
    w = Window.partitionBy("user_id")
    wo = w.orderBy("ts", "event_id")
    base = (
        ev.withColumn("tmin", F.min("ts").over(w))
        .withColumn("tmax", F.max("ts").over(w))
        .withColumn("rn", F.row_number().over(wo))
        .withColumn(
            "bucket",
            F.expr(
                f"least((ts - tmin) * {M4_BUCKETS} div (tmax - tmin + 1), "
                f"{M4_BUCKETS - 1})"
            ),
        )
    )
    return base.groupBy("user_id", "bucket").agg(
        F.count(F.lit(1)).alias("n_pts"),
        F.min("ts").alias("ts_first"),
        F.max("ts").alias("ts_last"),
        F.min("value").alias("v_min"),
        F.max("value").alias("v_max"),
        F.min_by("value", "rn").alias("v_first"),
        F.max_by("value", "rn").alias("v_last"),
    )


TS_M4_SQL = f"""
WITH base AS (
  SELECT user_id, value, epoch_us(ts) AS tsu,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts), event_id) AS rn,
         min(epoch_us(ts)) OVER (PARTITION BY user_id) AS tmin,
         max(epoch_us(ts)) OVER (PARTITION BY user_id) AS tmax
  FROM events WHERE value IS NOT NULL
)
SELECT user_id,
       least((tsu - tmin) * {M4_BUCKETS} // (tmax - tmin + 1),
             {M4_BUCKETS - 1})        AS bucket,
       CAST(count(*) AS BIGINT)      AS n_pts,
       min(tsu)                      AS ts_first,
       max(tsu)                      AS ts_last,
       min(value)                    AS v_min,
       max(value)                    AS v_max,
       arg_min(value, rn)            AS v_first,
       arg_max(value, rn)            AS v_last
FROM base
GROUP BY user_id, least((tsu - tmin) * {M4_BUCKETS} // (tmax - tmin + 1),
                        {M4_BUCKETS - 1})
"""


QUERIES = [
    Query("ts_medfilt", ts_medfilt, _medfilt_sql(15), "O18 zero-padded median filter k=15"),
    Query("ts_gradient", ts_gradient, TS_GRADIENT_SQL, "O19 np.gradient edge semantics"),
    Query("ts_deadband", ts_deadband, TS_DEADBAND_SQL, "O8 noise-floor deadband"),
    Query("ts_peak_reject", ts_peak_reject, TS_PEAK_REJECT_SQL, "O3 peak rejection + LOCF"),
    Query("ts_locf", ts_locf, TS_LOCF_SQL, "LOCF imputation over injected gaps"),
    Query("ts_runstats", ts_runstats, TS_RUNSTATS_SQL_FULL, "O20 per-run RMS/min/max of filtered signal"),
    Query("ts_groupmeans", ts_groupmeans, TS_GROUPMEANS_SQL, "O21 two-level aggregation"),
    Query("ts_welch", ts_welch, TS_WELCH_SQL, "O22 Welch t statistic + dof (closed form)"),
    Query("ts_welch_p", ts_welch_p, TS_WELCH_P_SQL, "O22 incl. p-value (t CDF as a recursive-CTE continued fraction in the oracle)"),
    Query("ts_transform", ts_transform, TS_TRANSFORM_SQL, "O10 3-DoF → 4-corner force transform"),
    Query("ts_zero_cal", ts_zero_cal, TS_ZERO_CAL_SQL, "O7 zero-point calibration broadcast"),
    Query("ts_lttb", ts_lttb, _lttb_sql(), "LTTB plot downsampling, integer-exact triangle selection, fully hash-checked"),
    Query("ts_autocorr", ts_autocorr, _autocorr_sql(), "lag-1..3 autocorrelation, fixed-point-exact Pearson r"),
    Query("ts_crossings", ts_crossings, TS_CROSSINGS_SQL, "mean-crossing rate, integer-exact centered signs"),
    Query("ts_mannkendall", ts_mannkendall, TS_MANNKENDALL_SQL, "Mann-Kendall trend test: integer S/pairs, tau + z from single float exprs"),
    Query("ts_seasonal", ts_seasonal, TS_SEASONAL_SQL, "hour-of-day seasonal profile, cross-multiplied exact deviations"),
    Query("ts_twap", ts_twap, TS_TWAP_SQL, "time-weighted average per user-day, integer weights + one final division"),
    Query("ts_m4", ts_m4, TS_M4_SQL, "M4 downsampling: per-bucket min/max/first/last envelope, raw-value exact"),
    Query("ts_outlier_mad", ts_outlier_mad, TS_OUTLIER_MAD_SQL, "median/MAD robust outlier screening per user, exact interpolated percentiles"),
    Query("ts_theilsen", ts_theilsen, TS_THEILSEN_SQL, "Theil-Sen robust trend: median pairwise slope + median-residual intercept"),
]
