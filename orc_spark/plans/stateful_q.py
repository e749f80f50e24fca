"""Stateful-recurrence queries (AHRS O4, PID O9, full steady-loop replay).

Both single-operator replays are oracle-checked by DuckDB RECURSIVE CTEs
that step one sample per iteration for every run in parallel, mirroring
the f64 engines' IEEE operation order exactly (the pattern that made the
Welch t CDF hash-checkable, ts_welch_p):

- st_pid_replay: with the fixture's Z_XL gains (ki = -0.0) the integrator
  term is identically +0.0, so the recurrence reduces to P + band-limited
  derivative (PID.c:24-91) — complete in ~15 SQL expressions.
- st_ahrs_replay: the full quaternion update (FusionAhrs.c:113-217) —
  half-gravity, accel cross-product feedback with >90° renormalization,
  gyro-range reset, gain ramp, per-step heading-zeroing, normalization,
  Euler + linear-accel outputs — as 12 layered derived tables inside the
  recursive member. Valid while every run stays inside the initialisation
  ramp (< (10-0.5)/ramp_step ≈ 10 634 samples/run; driver runs are ≤ ~100,
  asserted bit-identical vs ahrs_scan_fast_f64 at sf0.001/0.01/0.1
  including gyro-range trips). DuckDB and CPython share libm on this
  platform, so sin/cos/atan2/asin/sqrt agree bit-for-bit (verified over
  120 k probes); the gate's 9-sig-fig rounding adds ~1e7 ulp of margin on
  top.

st_imu_pipeline composes the same machinery end to end — LOCF-gated unit
conversion (gyro-gates-accel quirk), the AHRS update, the noise-floor
deadband, THREE full PID controllers (nonzero integrators, dynamic
anti-windup clamping, swapped-gain quirk, int16 output cast) and the
4-corner transform with its uint16 cast — in one recursive CTE with a
23-column state vector. Same validity envelope as the AHRS oracle;
asserted bit-identical vs replay_run_fast_f64 at sf0.001/0.01/0.1.
tests/test_stateful_replay.py additionally covers physical sanity and
distributed == local recurrence equality.

Inputs are synthesized deterministically FROM the driver's events table
(value → int16 counts), since the firmware never logged raw counts
(SURVEY §7.1 M4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from orc_spark.operators.ahrs import ahrs_replay
from orc_spark.operators.control import Z_XL_GAINS, pid_params, pid_replay
from orc_spark.operators.imu_pipeline import imu_pipeline_replay
from orc_spark.plans import Query
from orc_spark.sources.tables import load_table

DT = 0.000282


def _imu_fixture(spark: SparkSession, sf: str) -> DataFrame:
    """events → F3-shaped raw-count stream: one run per user, ordered by ts.
    Deterministic int16 synthesis: counts scale with value, z-accel near 1 g."""
    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    v = F.col("value")
    return ev.select(
        F.col("user_id").alias("run_idx"),
        (F.row_number().over(w) - 1).cast("bigint").alias("sample_idx"),
        (v * 37).cast("int").alias("xl_x"),
        (v * -23).cast("int").alias("xl_y"),
        (F.lit(8197) + (v * 11).cast("int")).alias("xl_z"),
        (v * 53).cast("int").alias("gy_x"),
        (v * -41).cast("int").alias("gy_y"),
        (v * 29).cast("int").alias("gy_z"),
        F.lit(DT).alias("interval_s"),
    )


def st_ahrs_replay(spark: SparkSession, sf: str) -> DataFrame:
    fx = _imu_fixture(spark, sf).select(
        "run_idx",
        "sample_idx",
        (F.col("gy_x") * 0.0175).alias("gy_x"),
        (F.col("gy_y") * 0.0175).alias("gy_y"),
        (F.col("gy_z") * 0.0175).alias("gy_z"),
        (F.col("xl_x") * 0.000122).alias("ax_x"),
        (F.col("xl_y") * 0.000122).alias("ax_y"),
        (F.col("xl_z") * 0.000122).alias("ax_z"),
    )
    # f32=False → the fast plain-float engine (10×); the bit-faithful f32
    # path stays the default for firmware replay (st_imu_pipeline)
    return ahrs_replay(fx, ["run_idx"], "sample_idx", f32=False)


def st_pid_replay(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    series = ev.select(
        "user_id",
        (F.row_number().over(w) - 1).cast("bigint").alias("ord"),
        (F.col("value") / 100.0).alias("meas"),
    )
    params = pid_params(*Z_XL_GAINS, DT, -30000.0, 30000.0)
    return pid_replay(series, "meas", ["user_id"], "ord", params, f32=False)


def _pid_sql() -> str:
    """DuckDB recursive-CTE replay of st_pid_replay, one sample per
    iteration for every run in parallel (max run length ≈ 90 → ≈ 90
    iterations). Every float constant is the repr round-trip of the exact
    double the Python engine folds (e.g. -2.0·kd → 3600.0), every
    expression mirrors pid_scan_fast_f64's operation order, and the
    integrator is omitted because ki = -0.0 keeps it at +0.0 (adding +0.0
    cannot change prop + diff, and diff can never be -0.0 starting from
    0.0). Seed row is ord = -1 with zero state so every real sample goes
    through the one uniform recursive step."""
    import numpy as np

    kp, _ki, kd = Z_XL_GAINS
    tau = 1.0 / (np.pi * 100.0)  # DERIVATIVE_CUTOFF_HZ, ORC_Main.c:429-430
    n2kd = -2.0 * kd
    ttm = 2.0 * tau - DT
    ttp = 2.0 * tau + DT
    lim_min, lim_max = -30000.0, 30000.0
    d = "CAST(0 AS DOUBLE)"
    diff_expr = (
        f"(CAST({n2kd!r} AS DOUBLE) * (b.meas - s.prev_m)"
        f" + CAST({ttm!r} AS DOUBLE) * s.diff)"
        f" / CAST({ttp!r} AS DOUBLE)"
    )
    prop_expr = f"CAST({kp!r} AS DOUBLE) * ({d} - b.meas)"
    return f"""
WITH RECURSIVE base AS (
  SELECT user_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1
           AS ord,
         value / CAST(100 AS DOUBLE) AS meas
  FROM events
),
scan AS (
  SELECT user_id, CAST(-1 AS BIGINT) AS ord, {d} AS meas,
         {d} AS diff, {d} AS prev_m, CAST(NULL AS DOUBLE) AS pid_out
  FROM (SELECT DISTINCT user_id FROM events)
  UNION ALL
  SELECT b.user_id, b.ord, b.meas,
         {diff_expr} AS diff,
         b.meas AS prev_m,
         least(greatest({prop_expr} + {diff_expr},
                        CAST({lim_min!r} AS DOUBLE)),
               CAST({lim_max!r} AS DOUBLE)) AS pid_out
  FROM scan s
  JOIN base b ON b.user_id = s.user_id AND b.ord = s.ord + 1
)
SELECT user_id, ord, meas, pid_out
FROM scan WHERE ord >= 0
"""


def _ahrs_sql() -> str:
    """DuckDB recursive-CTE replay of st_ahrs_replay (see module docstring
    for the validity envelope). Layered derived tables mirror
    ahrs_scan_fast_f64's per-step sequence: gyro-range reset → gain ramp →
    half gravity → normalized accel → cross-product feedback (with the
    >90°-error renormalization branch) → adjusted rates → quaternion
    integrate → normalize → heading-zero rotation → Euler/linear outputs.
    Every constant is the repr round-trip of the exact double the engine
    folds; every expression keeps the engine's association order."""
    import math

    from orc_spark.operators.ahrs import (
        INITIAL_GAIN,
        INITIALISATION_PERIOD,
        AhrsSettings,
    )

    s = AhrsSettings()
    rs = ((INITIAL_GAIN - s.gain) / INITIALISATION_PERIOD) * DT
    gr = 0.98 * s.gyroscope_range_dps
    hr = math.radians(0.5)
    d = "CAST(0 AS DOUBLE)"
    return f"""
WITH RECURSIVE base AS (
  SELECT user_id AS run_idx,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1
           AS sample_idx,
         CAST(trunc(value * 53) AS BIGINT) * CAST(0.0175 AS DOUBLE) AS gx,
         CAST(trunc(value * -41) AS BIGINT) * CAST(0.0175 AS DOUBLE) AS gy,
         CAST(trunc(value * 29) AS BIGINT) * CAST(0.0175 AS DOUBLE) AS gz,
         CAST(trunc(value * 37) AS BIGINT) * CAST(0.000122 AS DOUBLE) AS ax,
         CAST(trunc(value * -23) AS BIGINT) * CAST(0.000122 AS DOUBLE) AS ay,
         (8197 + CAST(trunc(value * 11) AS BIGINT)) * CAST(0.000122 AS DOUBLE) AS az
  FROM events
),
scan AS (
  SELECT user_id AS run_idx, CAST(-1 AS BIGINT) AS sample_idx,
         CAST(1 AS DOUBLE) AS qw, {d} AS qx, {d} AS qy, {d} AS qz,
         CAST({INITIAL_GAIN!r} AS DOUBLE) AS rg,
         CAST(NULL AS DOUBLE) AS roll_deg, CAST(NULL AS DOUBLE) AS pitch_deg,
         CAST(NULL AS DOUBLE) AS yaw_deg, CAST(NULL AS DOUBLE) AS lin_x,
         CAST(NULL AS DOUBLE) AS lin_y, CAST(NULL AS DOUBLE) AS lin_z
  FROM (SELECT DISTINCT user_id FROM events)
  UNION ALL
  SELECT run_idx, sample_idx, fw AS qw, fx AS qx, fy AS qy, fz AS qz, rg1 AS rg,
         degrees(atan2(fw*fx + fy*fz, (0.5 - fy*fy) - fx*fx)) AS roll_deg,
         degrees(asin(least(greatest(2.0*(fw*fy - fz*fx), CAST(-1 AS DOUBLE)), CAST(1 AS DOUBLE)))) AS pitch_deg,
         degrees(atan2(fw*fz + fx*fy, (0.5 - fy*fy) - fz*fz)) AS yaw_deg,
         ax - 2.0*(fx*fz - fw*fy) AS lin_x,
         ay - 2.0*(fy*fz + fw*fx) AS lin_y,
         az - 2.0*((fw*fw - 0.5) + fz*fz) AS lin_z
  FROM (
    SELECT *,
           rw*uw - rz*uz AS fw, rw*ux - rz*uy AS fx,
           rw*uy + rz*ux AS fy, rw*uz + rz*uw AS fz
    FROM (
      SELECT *, cos(half) AS rw, -sin(half) AS rz
      FROM (
        SELECT *, 0.5 * atan2(uw*uz + ux*uy, (0.5 - uy*uy) - uz*uz) AS half
        FROM (
          SELECT *, nqw*invq AS uw, nqx*invq AS ux, nqy*invq AS uy, nqz*invq AS uz
          FROM (
            SELECT *, 1.0/sqrt(((nqw*nqw + nqx*nqx) + nqy*nqy) + nqz*nqz) AS invq
            FROM (
              SELECT *,
                     qw + ((-(qx*adjx) - qy*adjy) - qz*adjz) AS nqw,
                     qx + ((qw*adjx + qy*adjz) - qz*adjy) AS nqx,
                     qy + ((qw*adjy - qx*adjz) + qz*adjx) AS nqy,
                     qz + ((qw*adjz + qx*adjy) - qy*adjx) AS nqz
              FROM (
                SELECT *,
                       (gx * CAST({hr!r} AS DOUBLE) + fbx * rg1) * CAST({DT!r} AS DOUBLE) AS adjx,
                       (gy * CAST({hr!r} AS DOUBLE) + fby * rg1) * CAST({DT!r} AS DOUBLE) AS adjy,
                       (gz * CAST({hr!r} AS DOUBLE) + fbz * rg1) * CAST({DT!r} AS DOUBLE) AS adjz
                FROM (
                  SELECT *,
                         CASE WHEN azero THEN {d}
                              WHEN dotsh < 0.0 AND m2 > 0.0 THEN cx * (1.0/sqrt(m2))
                              ELSE cx END AS fbx,
                         CASE WHEN azero THEN {d}
                              WHEN dotsh < 0.0 AND m2 > 0.0 THEN cy * (1.0/sqrt(m2))
                              ELSE cy END AS fby,
                         CASE WHEN azero THEN {d}
                              WHEN dotsh < 0.0 AND m2 > 0.0 THEN cz * (1.0/sqrt(m2))
                              ELSE cz END AS fbz
                  FROM (
                    SELECT *,
                           (cx*cx + cy*cy) + cz*cz AS m2,
                           (sx*hgx + sy*hgy) + sz*hgz AS dotsh
                    FROM (
                      SELECT *,
                             sy*hgz - sz*hgy AS cx,
                             sz*hgx - sx*hgz AS cy,
                             sx*hgy - sy*hgx AS cz
                      FROM (
                        SELECT *, ax*inva AS sx, ay*inva AS sy, az*inva AS sz
                        FROM (
                          SELECT *,
                                 CASE WHEN azero THEN {d}
                                      ELSE 1.0/sqrt((ax*ax + ay*ay) + az*az) END AS inva
                          FROM (
                            SELECT *,
                                   (CASE WHEN abs(gx) > CAST({gr!r} AS DOUBLE)
                                          OR abs(gy) > CAST({gr!r} AS DOUBLE)
                                          OR abs(gz) > CAST({gr!r} AS DOUBLE)
                                         THEN CAST({INITIAL_GAIN!r} AS DOUBLE) ELSE rg END)
                                   - CAST({rs!r} AS DOUBLE) AS rg1,
                                   qx*qz - qw*qy AS hgx,
                                   qy*qz + qw*qx AS hgy,
                                   (qw*qw - 0.5) + qz*qz AS hgz,
                                   (ax = 0.0 AND ay = 0.0 AND az = 0.0) AS azero
                            FROM (
                              SELECT s.qw, s.qx, s.qy, s.qz, s.rg,
                                     b.run_idx, b.sample_idx,
                                     b.gx, b.gy, b.gz, b.ax, b.ay, b.az
                              FROM scan s
                              JOIN base b ON b.run_idx = s.run_idx
                                         AND b.sample_idx = s.sample_idx + 1
                            )
                          )
                        )
                      )
                    )
                  )
                )
              )
            )
          )
        )
      )
    )
  )
)
SELECT run_idx, sample_idx, qw, qx, qy, qz,
       roll_deg, pitch_deg, yaw_deg, lin_x, lin_y, lin_z
FROM scan WHERE sample_idx >= 0
"""


def st_imu_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    return imu_pipeline_replay(
        _imu_fixture(spark, sf), ["run_idx"], "sample_idx", f32=False
    )


def _imu_sql() -> str:
    """DuckDB recursive-CTE replay of st_imu_pipeline: the entire firmware
    steady loop (ORC_Main.c:227-289) as one recurrence with a 23-column
    state vector — carried LOCF floats (6), AHRS quaternion + ramped gain
    (5), and 4 PID state variables × 3 controllers (12). Layer order and
    float association mirror replay_run_fast_f64 exactly; int16/uint16
    output casts are trunc-after-clip, matching numpy's cast of clipped
    floats. Validity envelope: runs inside the AHRS initialisation ramp
    (see module docstring); bit-identical at sf0.001/0.01/0.1."""
    import math

    import numpy as np

    from orc_spark.operators.ahrs import (
        INITIAL_GAIN,
        INITIALISATION_PERIOD,
        AhrsSettings,
    )
    from orc_spark.operators.control import (
        A_2AB,
        B_2AB,
        INV_2AB,
        INV_2CD,
        PITCH_GAINS,
        ROLL_GAINS,
    )
    from orc_spark.operators.imu_pipeline import IMU_NOISE_FLOOR
    from orc_spark.operators.timeseries import (
        ACCEL_G_PER_LSB,
        ACCEL_REJECT_COUNTS,
        GYRO_DPS_PER_LSB,
        GYRO_REJECT_COUNTS,
    )

    s = AhrsSettings(sample_time=DT, recovery_trigger_period=int(5.0 / DT))
    rs = ((INITIAL_GAIN - s.gain) / INITIALISATION_PERIOD) * DT
    gr = 0.98 * s.gyroscope_range_dps
    hr = math.radians(0.5)
    tau = 1.0 / (np.pi * 100.0)
    max_accel_coeff = 1.1 * max(A_2AB, B_2AB)
    max_angle_coeff = 1.1 * max(INV_2AB, INV_2CD)
    accel_lims = (-32768.0 / max_accel_coeff, 32767.0 / max_accel_coeff)
    angle_lims = (-32768.0 / max_angle_coeff, 32767.0 / max_angle_coeff)
    ttm = 2.0 * tau - DT
    ttp = 2.0 * tau + DT
    nf = IMU_NOISE_FLOOR
    d = "CAST(0 AS DOUBLE)"

    def pid_layers(tag: str, gains, lims, meas: str) -> tuple[str, str, str]:
        """Three per-controller layers: (err/prop/trapezoid-integ/diff),
        (dynamic anti-windup clamp), (output clamp + int16 cast)."""
        kp, ki, kd = gains
        kit = (0.5 * ki) * DT  # constant the engine folds per step
        n2kd = -2.0 * kd
        lmin, lmax = lims
        l1 = f"""
           CAST({kp!r} AS DOUBLE) * ({d} - {meas}) AS {tag}_prop,
           {tag}_integ + CAST({kit!r} AS DOUBLE) * (({d} - {meas}) + {tag}_perr) AS {tag}_integ1,
           (CAST({n2kd!r} AS DOUBLE) * ({meas} - {tag}_pm) + CAST({ttm!r} AS DOUBLE) * {tag}_diff) / CAST({ttp!r} AS DOUBLE) AS {tag}_diff1"""
        l2 = f"""
           CASE WHEN {tag}_integ1 > (CASE WHEN CAST({lmax!r} AS DOUBLE) > {tag}_prop THEN CAST({lmax!r} AS DOUBLE) - {tag}_prop ELSE {d} END)
                THEN (CASE WHEN CAST({lmax!r} AS DOUBLE) > {tag}_prop THEN CAST({lmax!r} AS DOUBLE) - {tag}_prop ELSE {d} END)
                WHEN {tag}_integ1 < (CASE WHEN CAST({lmin!r} AS DOUBLE) < {tag}_prop THEN CAST({lmin!r} AS DOUBLE) - {tag}_prop ELSE {d} END)
                THEN (CASE WHEN CAST({lmin!r} AS DOUBLE) < {tag}_prop THEN CAST({lmin!r} AS DOUBLE) - {tag}_prop ELSE {d} END)
                ELSE {tag}_integ1 END AS {tag}_integ2"""
        l3 = f"""
           CAST(CAST(trunc(least(greatest(
             least(greatest(({tag}_prop + {tag}_integ2) + {tag}_diff1, CAST({lmin!r} AS DOUBLE)), CAST({lmax!r} AS DOUBLE)),
             CAST(-32768 AS DOUBLE)), CAST(32767 AS DOUBLE))) AS BIGINT) AS DOUBLE) AS {tag}_out"""
        return l1, l2, l3

    z1, z2, z3 = pid_layers("z", Z_XL_GAINS, accel_lims, "cond_accel")
    # swapped-gain quirk (ORC_Main.c:456-470): pitch runs ROLL_K*, roll PITCH_K*
    p1, p2, p3 = pid_layers("p", ROLL_GAINS, angle_lims, "pitch_deg")
    r1, r2, r3 = pid_layers("r", PITCH_GAINS, angle_lims, "roll_deg")

    def act(zs: str, ps: str) -> str:
        zc = B_2AB if zs == "b" else A_2AB
        return (
            f"CAST(CAST(trunc(least(greatest(((CAST({zc!r} AS DOUBLE) * z_out"
            f" {'-' if zs == 'b' else '+'} CAST({INV_2AB!r} AS DOUBLE) * p_out)"
            f" {ps} CAST({INV_2CD!r} AS DOUBLE) * r_out) + 32768.0, {d}),"
            f" CAST(65535 AS DOUBLE))) AS BIGINT) AS DOUBLE)"
        )

    return f"""
WITH RECURSIVE base AS (
  SELECT user_id AS run_idx,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1
           AS sample_idx,
         CAST(trunc(value * 53) AS BIGINT) AS rgx,
         CAST(trunc(value * -41) AS BIGINT) AS rgy,
         CAST(trunc(value * 29) AS BIGINT) AS rgz,
         CAST(trunc(value * 37) AS BIGINT) AS rax,
         CAST(trunc(value * -23) AS BIGINT) AS ray,
         8197 + CAST(trunc(value * 11) AS BIGINT) AS raz
  FROM events
),
scan AS (
  SELECT user_id AS run_idx, CAST(-1 AS BIGINT) AS sample_idx,
         CAST(1 AS DOUBLE) AS qw, {d} AS qx, {d} AS qy, {d} AS qz,
         CAST({INITIAL_GAIN!r} AS DOUBLE) AS rg,
         {d} AS cgx, {d} AS cgy, {d} AS cgz,
         {d} AS cax, {d} AS cay, {d} AS caz,
         {d} AS z_integ, {d} AS z_diff, {d} AS z_perr, {d} AS z_pm,
         {d} AS p_integ, {d} AS p_diff, {d} AS p_perr, {d} AS p_pm,
         {d} AS r_integ, {d} AS r_diff, {d} AS r_perr, {d} AS r_pm,
         CAST(NULL AS DOUBLE) AS accel_g, CAST(NULL AS DOUBLE) AS pitch_deg,
         CAST(NULL AS DOUBLE) AS roll_deg, CAST(NULL AS DOUBLE) AS cond_accel,
         CAST(NULL AS DOUBLE) AS act1, CAST(NULL AS DOUBLE) AS act2,
         CAST(NULL AS DOUBLE) AS act3, CAST(NULL AS DOUBLE) AS act4
  FROM (SELECT DISTINCT user_id FROM events)
  UNION ALL
  SELECT run_idx, sample_idx, fw AS qw, fx AS qx, fy AS qy, fz_ AS qz, rg1 AS rg,
         cgx, cgy, cgz, cax, cay, caz,
         z_integ2 AS z_integ, z_diff1 AS z_diff,
         ({d} - cond_accel) AS z_perr, cond_accel AS z_pm,
         p_integ2 AS p_integ, p_diff1 AS p_diff,
         ({d} - pitch_deg) AS p_perr, pitch_deg AS p_pm,
         r_integ2 AS r_integ, r_diff1 AS r_diff,
         ({d} - roll_deg) AS r_perr, roll_deg AS r_pm,
         accel_g, pitch_deg, roll_deg, cond_accel,
         {act("b", "+")} AS act1,
         {act("b", "-")} AS act2,
         {act("a", "+")} AS act3,
         {act("a", "-")} AS act4
  FROM (
    SELECT *, {z3}, {p3}, {r3}
    FROM (
      SELECT *, {z2}, {p2}, {r2}
      FROM (
        SELECT *, {z1}, {p1}, {r1}
        FROM (
          SELECT *,
                 az_lin AS accel_g,
                 CASE WHEN az_lin > CAST({nf!r} AS DOUBLE) THEN az_lin - CAST({nf!r} AS DOUBLE)
                      WHEN az_lin < -CAST({nf!r} AS DOUBLE) THEN az_lin + CAST({nf!r} AS DOUBLE)
                      ELSE {d} END AS cond_accel
          FROM (
            SELECT *,
                   degrees(atan2(fw*fx + fy*fz_, (0.5 - fy*fy) - fx*fx)) AS roll_deg,
                   degrees(asin(least(greatest(2.0*(fw*fy - fz_*fx), CAST(-1 AS DOUBLE)), CAST(1 AS DOUBLE)))) AS pitch_deg,
                   caz - 2.0*((fw*fw - 0.5) + fz_*fz_) AS az_lin
            FROM (
              SELECT *,
                     rw*uw - rz_*uz AS fw, rw*ux - rz_*uy AS fx,
                     rw*uy + rz_*ux AS fy, rw*uz + rz_*uw AS fz_
              FROM (
                SELECT *, cos(half) AS rw, -sin(half) AS rz_
                FROM (
                  SELECT *, 0.5 * atan2(uw*uz + ux*uy, (0.5 - uy*uy) - uz*uz) AS half
                  FROM (
                    SELECT *, nqw*invq AS uw, nqx*invq AS ux, nqy*invq AS uy, nqz*invq AS uz
                    FROM (
                      SELECT *, 1.0/sqrt(((nqw*nqw + nqx*nqx) + nqy*nqy) + nqz*nqz) AS invq
                      FROM (
                        SELECT *,
                               qw + ((-(qx*adjx) - qy*adjy) - qz*adjz) AS nqw,
                               qx + ((qw*adjx + qy*adjz) - qz*adjy) AS nqx,
                               qy + ((qw*adjy - qx*adjz) + qz*adjx) AS nqy,
                               qz + ((qw*adjz + qx*adjy) - qy*adjx) AS nqz
                        FROM (
                          SELECT *,
                                 (cgx * CAST({hr!r} AS DOUBLE) + fbx * rg1) * CAST({DT!r} AS DOUBLE) AS adjx,
                                 (cgy * CAST({hr!r} AS DOUBLE) + fby * rg1) * CAST({DT!r} AS DOUBLE) AS adjy,
                                 (cgz * CAST({hr!r} AS DOUBLE) + fbz * rg1) * CAST({DT!r} AS DOUBLE) AS adjz
                          FROM (
                            SELECT *,
                                   CASE WHEN azero THEN {d}
                                        WHEN dotsh < 0.0 AND m2 > 0.0 THEN cxp * (1.0/sqrt(m2))
                                        ELSE cxp END AS fbx,
                                   CASE WHEN azero THEN {d}
                                        WHEN dotsh < 0.0 AND m2 > 0.0 THEN cyp * (1.0/sqrt(m2))
                                        ELSE cyp END AS fby,
                                   CASE WHEN azero THEN {d}
                                        WHEN dotsh < 0.0 AND m2 > 0.0 THEN czp * (1.0/sqrt(m2))
                                        ELSE czp END AS fbz
                            FROM (
                              SELECT *,
                                     (cxp*cxp + cyp*cyp) + czp*czp AS m2,
                                     (sx*hgx + sy*hgy) + sz*hgz AS dotsh
                              FROM (
                                SELECT *,
                                       sy*hgz - sz*hgy AS cxp,
                                       sz*hgx - sx*hgz AS cyp,
                                       sx*hgy - sy*hgx AS czp
                                FROM (
                                  SELECT *, cax*inva AS sx, cay*inva AS sy, caz*inva AS sz
                                  FROM (
                                    SELECT *,
                                           CASE WHEN azero THEN {d}
                                                ELSE 1.0/sqrt((cax*cax + cay*cay) + caz*caz) END AS inva
                                    FROM (
                                      SELECT *,
                                             (CASE WHEN abs(cgx) > CAST({gr!r} AS DOUBLE)
                                                    OR abs(cgy) > CAST({gr!r} AS DOUBLE)
                                                    OR abs(cgz) > CAST({gr!r} AS DOUBLE)
                                                   THEN CAST({INITIAL_GAIN!r} AS DOUBLE) ELSE rg END)
                                             - CAST({rs!r} AS DOUBLE) AS rg1,
                                             qx*qz - qw*qy AS hgx,
                                             qy*qz + qw*qx AS hgy,
                                             (qw*qw - 0.5) + qz*qz AS hgz,
                                             (cax = 0.0 AND cay = 0.0 AND caz = 0.0) AS azero
                                      FROM (
                                        SELECT s.qw, s.qx, s.qy, s.qz, s.rg,
                                               s.z_integ, s.z_diff, s.z_perr, s.z_pm,
                                               s.p_integ, s.p_diff, s.p_perr, s.p_pm,
                                               s.r_integ, s.r_diff, s.r_perr, s.r_pm,
                                               b.run_idx, b.sample_idx,
                                               CASE WHEN abs(b.rgx) < {GYRO_REJECT_COUNTS} THEN CAST(b.rgx AS DOUBLE) * CAST({GYRO_DPS_PER_LSB!r} AS DOUBLE) ELSE s.cgx END AS cgx,
                                               CASE WHEN abs(b.rgy) < {GYRO_REJECT_COUNTS} THEN CAST(b.rgy AS DOUBLE) * CAST({GYRO_DPS_PER_LSB!r} AS DOUBLE) ELSE s.cgy END AS cgy,
                                               CASE WHEN abs(b.rgz) < {GYRO_REJECT_COUNTS} THEN CAST(b.rgz AS DOUBLE) * CAST({GYRO_DPS_PER_LSB!r} AS DOUBLE) ELSE s.cgz END AS cgz,
                                               CASE WHEN abs(b.rgx) < {ACCEL_REJECT_COUNTS} THEN CAST(b.rax AS DOUBLE) * CAST({ACCEL_G_PER_LSB!r} AS DOUBLE) ELSE s.cax END AS cax,
                                               CASE WHEN abs(b.rgy) < {ACCEL_REJECT_COUNTS} THEN CAST(b.ray AS DOUBLE) * CAST({ACCEL_G_PER_LSB!r} AS DOUBLE) ELSE s.cay END AS cay,
                                               CASE WHEN abs(b.rgz) < {ACCEL_REJECT_COUNTS} THEN CAST(b.raz AS DOUBLE) * CAST({ACCEL_G_PER_LSB!r} AS DOUBLE) ELSE s.caz END AS caz
                                        FROM scan s
                                        JOIN base b ON b.run_idx = s.run_idx
                                                   AND b.sample_idx = s.sample_idx + 1
                                      )
                                    )
                                  )
                                )
                              )
                            )
                          )
                        )
                      )
                    )
                  )
                )
              )
            )
          )
        )
      )
    )
  )
)
SELECT run_idx, sample_idx, accel_g, pitch_deg, roll_deg, cond_accel,
       act1, act2, act3, act4
FROM scan WHERE sample_idx >= 0
"""



# --- EWMA smoothing (recursive stateful, bit-identical f64) ------------------

EWMA_ALPHA = 0.2


def st_ewma(spark: SparkSession, sf: str) -> DataFrame:
    """Exponentially weighted moving average over each user's event values:
    s_1 = v_1; s_i = α·v_i + (1−α)·s_{i−1} (α = 0.2). The telemetry
    smoothing filter, run per series through the recurrence harness; the
    oracle replays the identical IEEE op order (α·v first, then +) one
    sample per recursive-CTE iteration, so the outputs are bit-identical
    f64 like the PID/AHRS replays."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from orc_spark.operators.recurrence import partitioned_group_scan

    ev = load_table(spark, sf, "events").select(
        "user_id", "event_id", "ts", "value"
    )

    def kernel(g: pd.DataFrame) -> pd.DataFrame:
        g = g.sort_values(["ts", "event_id"], kind="mergesort")
        v = g["value"].to_numpy(np.float64)
        out = np.empty_like(v)
        s = v[0]
        out[0] = s
        for i in range(1, v.shape[0]):
            s = EWMA_ALPHA * v[i] + (1.0 - EWMA_ALPHA) * s
            out[i] = s
        return pd.DataFrame(
            {
                "user_id": g["user_id"].to_numpy(np.int64),
                "event_id": g["event_id"].to_numpy(np.int64),
                "ewma": out,
            }
        )

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("ewma", T.DoubleType()),
        ]
    )
    return partitioned_group_scan(ev, ["user_id"], "ts", kernel, schema)


ST_EWMA_SQL = f"""
WITH RECURSIVE base AS (
  SELECT user_id, event_id, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts), event_id) AS rn
  FROM events
),
rec (user_id, event_id, rn, s) AS (
  SELECT user_id, event_id, rn, CAST(value AS DOUBLE) FROM base WHERE rn = 1
  UNION ALL
  SELECT b.user_id, b.event_id, b.rn,
         CAST({EWMA_ALPHA!r} AS DOUBLE) * b.value
           + CAST({1.0 - EWMA_ALPHA!r} AS DOUBLE) * r.s
  FROM rec r JOIN base b ON b.user_id = r.user_id AND b.rn = r.rn + 1
)
SELECT user_id, event_id, s AS ewma FROM rec
"""


# --- 1-D Kalman filter (recursive stateful, bit-identical f64) ---------------

KALMAN_Q = 0.01  # process variance
KALMAN_R = 4.0   # measurement variance


def st_kalman(spark: SparkSession, sf: str) -> DataFrame:
    """Scalar Kalman filter over each user's event values (constant-state
    model): p' = p + q; k = p'/(p'+r); x += k·(v−x); p = (1−k)·p'. The
    canonical sensor-fusion recurrence one tier below the AHRS replay —
    same harness, same oracle pattern, two state columns (x, p) carried
    through the recursive CTE in the identical IEEE op order."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from orc_spark.operators.recurrence import partitioned_group_scan

    ev = load_table(spark, sf, "events").select(
        "user_id", "event_id", "ts", "value"
    )

    def kernel(g: pd.DataFrame) -> pd.DataFrame:
        g = g.sort_values(["ts", "event_id"], kind="mergesort")
        v = g["value"].to_numpy(np.float64)
        xs = np.empty_like(v)
        ks = np.empty_like(v)
        x = v[0]
        p = 1.0
        xs[0] = x
        ks[0] = 0.0
        for i in range(1, v.shape[0]):
            p_pred = p + KALMAN_Q
            k = p_pred / (p_pred + KALMAN_R)
            x = x + k * (v[i] - x)
            p = (1.0 - k) * p_pred
            xs[i] = x
            ks[i] = k
        return pd.DataFrame(
            {
                "user_id": g["user_id"].to_numpy(np.int64),
                "event_id": g["event_id"].to_numpy(np.int64),
                "x_est": xs,
                "gain": ks,
            }
        )

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("x_est", T.DoubleType()),
            T.StructField("gain", T.DoubleType()),
        ]
    )
    return partitioned_group_scan(ev, ["user_id"], "ts", kernel, schema)


ST_KALMAN_SQL = f"""
WITH RECURSIVE base AS (
  SELECT user_id, event_id, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts), event_id) AS rn
  FROM events
),
rec (user_id, event_id, rn, x, p, k) AS (
  SELECT user_id, event_id, rn, CAST(value AS DOUBLE),
         CAST(1.0 AS DOUBLE), CAST(0.0 AS DOUBLE)
  FROM base WHERE rn = 1
  UNION ALL
  SELECT b.user_id, b.event_id, b.rn,
         r.x + ((r.p + CAST({KALMAN_Q!r} AS DOUBLE))
                / ((r.p + CAST({KALMAN_Q!r} AS DOUBLE)) + CAST({KALMAN_R!r} AS DOUBLE)))
              * (b.value - r.x),
         (CAST(1.0 AS DOUBLE)
          - ((r.p + CAST({KALMAN_Q!r} AS DOUBLE))
             / ((r.p + CAST({KALMAN_Q!r} AS DOUBLE)) + CAST({KALMAN_R!r} AS DOUBLE))))
           * (r.p + CAST({KALMAN_Q!r} AS DOUBLE)),
         ((r.p + CAST({KALMAN_Q!r} AS DOUBLE))
          / ((r.p + CAST({KALMAN_Q!r} AS DOUBLE)) + CAST({KALMAN_R!r} AS DOUBLE)))
  FROM rec r JOIN base b ON b.user_id = r.user_id AND b.rn = r.rn + 1
)
SELECT user_id, event_id, x AS x_est, k AS gain FROM rec
"""


# --- Goertzel spectral power (recursive stateful, fixed-point exact) ---------

# 2·cos(2π/period), folded in Python (periods in samples on the per-run
# index). cos(2π/4) is exactly 0 (the 1.22e-16 is float noise of 0), so the
# quantized period-4 coefficient is 0 — a degenerate-but-valid Goertzel.
GOERTZEL_COEFFS = {4: 1.2246467991473532e-16, 8: 1.4142135623730951, 16: 1.8477590650225735}
# Fixed-point scale for the recurrence state. r04 postmortem: the f64
# recurrence was ALGEBRAICALLY identical across engines but ulp-divergent on
# the p16 path (9/150 rows bit-equal), so the state itself is quantized to
# integer units of 1e-4 and stepped in exact integer arithmetic on both
# sides — the repo's fixed-point determinism pattern (ts_crossings,
# ev_anomaly, gr_pagerank). Integer headroom: |s| grows ≲ n·max|x|·SCALE
# (unit-circle characteristic roots → at worst linear resonant growth), so
# c_fp·s1 stays ≲ 1e17 even at 1e6 samples/series; the final squares use
# Python ints / DuckDB HUGEINT, which never wrap.
GOERTZEL_SCALE = 10_000
GOERTZEL_CFP = {k: round(v * GOERTZEL_SCALE) for k, v in GOERTZEL_COEFFS.items()}


def st_goertzel(spark: SparkSession, sf: str) -> DataFrame:
    """Single-bin DFT power (Goertzel) of each user's value series at
    period-4/8/16 oscillations — the spectral-peak probe of vibration
    analysis (the reference's domain: its pipeline measures vibration RMS;
    this resolves WHERE in frequency the energy sits). The classic 2-state
    recurrence s_n = v_n + c·s1 − s2 runs per series through the
    recurrence harness in fixed-point (state in BIGINT 1e-4 units, trunc
    division, exact integer power at the end, one double cast + one exact
    division for output); the oracle steps the identical integer recurrence
    in a recursive CTE — cross-engine EXACT, not merely close. NULL values
    are filtered identically on both engines up front: the fixed-point
    quantization int(floor(·)) would CRASH on NaN where the old f64 kernel
    merely propagated it (review finding) — the recurrence is defined over
    the non-null sample stream."""
    import pandas as pd
    from pyspark.sql import types as T

    from orc_spark.operators.recurrence import partitioned_group_scan

    ev = (
        load_table(spark, sf, "events")
        .select("user_id", "event_id", "ts", "value")
        .where(F.col("value").isNotNull())
    )
    sc = GOERTZEL_SCALE
    cfps = [GOERTZEL_CFP[k] for k in (4, 8, 16)]

    def tdiv(a: int) -> int:  # truncate toward zero == DuckDB integer //
        return a // sc if a >= 0 else -((-a) // sc)

    def kernel(g: pd.DataFrame) -> pd.DataFrame:
        import math

        g = g.sort_values(["ts", "event_id"], kind="mergesort")
        # input quantization: value*SCALE is one double multiply (identical
        # cross-engine), floor(+0.5) = round-half-up, then exact ints onward
        xs = [int(math.floor(v * float(sc) + 0.5)) for v in g["value"]]
        powers = []
        for c in cfps:
            s1 = 0
            s2 = 0
            for x in xs:
                s = x + tdiv(c * s1) - s2
                s2 = s1
                s1 = s
            p = s1 * s1 + s2 * s2 - tdiv(c * s1) * s2
            powers.append(float(p) / float(sc * sc))
        return pd.DataFrame(
            {
                "user_id": [int(g["user_id"].iloc[0])],
                "n": [len(xs)],
                "p4": [powers[0]],
                "p8": [powers[1]],
                "p16": [powers[2]],
            }
        )

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n", T.LongType()),
            T.StructField("p4", T.DoubleType()),
            T.StructField("p8", T.DoubleType()),
            T.StructField("p16", T.DoubleType()),
        ]
    )
    return partitioned_group_scan(ev, ["user_id"], "ts", kernel, schema)


def _goertzel_sql() -> str:
    # Integer recurrence mirror: state in BIGINT 1e-4 units; DuckDB's
    # integer `//` truncates toward zero == the kernel's tdiv; the final
    # power uses HUGEINT so the squares never wrap, then one cast-to-double
    # and one exact /1e8 — identical rounding to Python float(int)/1e8.
    sc = GOERTZEL_SCALE
    cf = GOERTZEL_CFP
    step = ", ".join(
        f"""b.x_fp + ({cf[p]} * r.s1_{p}) // {sc} - r.s2_{p},
         r.s1_{p}"""
        for p in (4, 8, 16)
    )
    power = ", ".join(
        f"""CAST(CAST(s1_{p} AS HUGEINT) * s1_{p} + CAST(s2_{p} AS HUGEINT) * s2_{p}
        - (({cf[p]} * s1_{p}) // {sc}) * CAST(s2_{p} AS HUGEINT) AS DOUBLE)
        / {float(sc * sc)!r} AS p{p}"""
        for p in (4, 8, 16)
    )
    seeds = ", ".join(f"x_fp, CAST(0 AS BIGINT)" for p in (4, 8, 16))
    return f"""
WITH RECURSIVE base AS (
  SELECT user_id,
         CAST(floor(value * {float(sc)!r} + 0.5) AS BIGINT) AS x_fp,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts), event_id) AS rn,
         CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n
  FROM events WHERE value IS NOT NULL
),
rec (user_id, rn, n, s1_4, s2_4, s1_8, s2_8, s1_16, s2_16) AS (
  SELECT user_id, rn, n, {seeds}
  FROM base WHERE rn = 1
  UNION ALL
  SELECT b.user_id, b.rn, b.n, {step}
  FROM rec r JOIN base b ON b.user_id = r.user_id AND b.rn = r.rn + 1
)
SELECT user_id, n, {power}
FROM rec WHERE rn = n
"""


# --- Schmitt-trigger hysteresis (recursive stateful, integer-exact) ----------

HYST_HI = 350.0
HYST_LO = 100.0


def st_hysteresis(spark: SparkSession, sf: str) -> DataFrame:
    """Schmitt-trigger thresholding with hysteresis over each user's value
    stream: output switches on above HI, off below LO, holds in between —
    the debounced alarm/actuation pattern every firmware control loop uses
    (the reference's DAC/actuator path is the analog). State is a single
    integer, so the replay is exactly reproducible; the oracle steps the
    same comparisons one sample per recursive iteration. Emits the state
    and the running flip count per event."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from orc_spark.operators.recurrence import partitioned_group_scan

    ev = load_table(spark, sf, "events").select(
        "user_id", "event_id", "ts", "value"
    )

    def kernel(g: pd.DataFrame) -> pd.DataFrame:
        g = g.sort_values(["ts", "event_id"], kind="mergesort")
        v = g["value"].to_numpy(np.float64)
        st = np.empty(len(v), dtype=np.int32)
        fl = np.empty(len(v), dtype=np.int64)
        s = 0
        flips = 0
        for i, x in enumerate(v):
            ns = 1 if x > HYST_HI else (0 if x < HYST_LO else s)
            if ns != s:
                flips += 1
            s = ns
            st[i] = s
            fl[i] = flips
        return pd.DataFrame(
            {
                "user_id": g["user_id"].to_numpy(np.int64),
                "event_id": g["event_id"].to_numpy(np.int64),
                "state": st,
                "n_flips": fl,
            }
        )

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("state", T.IntegerType()),
            T.StructField("n_flips", T.LongType()),
        ]
    )
    return partitioned_group_scan(ev, ["user_id"], "ts", kernel, schema)


ST_HYST_SQL = f"""
WITH RECURSIVE base AS (
  SELECT user_id, event_id, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts), event_id) AS rn
  FROM events
),
rec (user_id, event_id, rn, state, n_flips) AS (
  SELECT user_id, event_id, rn,
         CASE WHEN value > {HYST_HI} THEN 1 ELSE 0 END,
         CAST(CASE WHEN value > {HYST_HI} THEN 1 ELSE 0 END AS BIGINT)
  FROM base WHERE rn = 1
  UNION ALL
  SELECT b.user_id, b.event_id, b.rn,
         CASE WHEN b.value > {HYST_HI} THEN 1
              WHEN b.value < {HYST_LO} THEN 0
              ELSE r.state END,
         r.n_flips + CASE WHEN (CASE WHEN b.value > {HYST_HI} THEN 1
                                     WHEN b.value < {HYST_LO} THEN 0
                                     ELSE r.state END) <> r.state
                          THEN 1 ELSE 0 END
  FROM rec r JOIN base b ON b.user_id = r.user_id AND b.rn = r.rn + 1
)
SELECT user_id, event_id, CAST(state AS INTEGER) AS state, n_flips FROM rec
"""

# --- event throttle / debounce (recursive stateful, integer-exact) -----------

THROTTLE_US = 120 * 1000000  # keep at most one event per 2 minutes per user


def st_throttle(spark: SparkSession, sf: str) -> DataFrame:
    """Greedy event throttling (debounce): per user, keep an event only if
    ≥2 minutes have passed since the last KEPT event — the rate-limiting /
    alert-deduplication primitive. Greedy keep decisions depend on prior
    keep decisions (not expressible as a window over raw timestamps), so
    it runs through the recurrence harness; state is one integer
    timestamp, replayed exactly by the recursive-CTE oracle. Emits the
    keep flag and running kept-count per event."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from orc_spark.operators.recurrence import partitioned_group_scan

    ev = load_table(spark, sf, "events").select("user_id", "event_id", "ts")

    def kernel(g: pd.DataFrame) -> pd.DataFrame:
        g = g.sort_values(["ts", "event_id"], kind="mergesort")
        t = g["ts"].to_numpy(np.int64)
        keep = np.empty(len(t), dtype=np.int32)
        cnt = np.empty(len(t), dtype=np.int64)
        last = None
        kept = 0
        for i, x in enumerate(t):
            if last is None or x - last >= THROTTLE_US:
                keep[i] = 1
                kept += 1
                last = x
            else:
                keep[i] = 0
            cnt[i] = kept
        return pd.DataFrame(
            {
                "user_id": g["user_id"].to_numpy(np.int64),
                "event_id": g["event_id"].to_numpy(np.int64),
                "kept": keep,
                "n_kept": cnt,
            }
        )

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("kept", T.IntegerType()),
            T.StructField("n_kept", T.LongType()),
        ]
    )
    return partitioned_group_scan(ev, ["user_id"], "ts", kernel, schema)


ST_THROTTLE_SQL = f"""
WITH RECURSIVE base AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts), event_id) AS rn
  FROM events
),
rec (user_id, event_id, rn, kept, n_kept, last_kept) AS (
  SELECT user_id, event_id, rn, 1, CAST(1 AS BIGINT), ts
  FROM base WHERE rn = 1
  UNION ALL
  SELECT b.user_id, b.event_id, b.rn,
         CASE WHEN b.ts - r.last_kept >= {THROTTLE_US} THEN 1 ELSE 0 END,
         r.n_kept + CASE WHEN b.ts - r.last_kept >= {THROTTLE_US}
                         THEN 1 ELSE 0 END,
         CASE WHEN b.ts - r.last_kept >= {THROTTLE_US} THEN b.ts
              ELSE r.last_kept END
  FROM rec r JOIN base b ON b.user_id = r.user_id AND b.rn = r.rn + 1
)
SELECT user_id, event_id, CAST(kept AS INTEGER) AS kept, n_kept FROM rec
"""


# --- Kleinberg burst detection (2-state Viterbi, bit-identical f64) ----------

BURST_S = 4.0     # burst-state rate multiplier
BURST_INF = 1e18  # "impossible" initial cost for the burst state


def st_bursts(spark: SparkSession, sf: str) -> DataFrame:
    """Kleinberg 2-state burst detection over each user's inter-arrival
    gaps (Kleinberg, KDD 2002): state q0 emits gaps at the user's base
    rate α₀ = (n−1)/span, q1 at 4·α₀; entering q1 costs γ·ln n (γ=1) and
    the Viterbi path minimizes total −log-likelihood. The gap costs are
    LINEAR in the gap (−ln α is a per-user constant), so the forward
    min-plus recurrence is bit-identical f64 cross-engine like the other
    replays; the backtrack that labels each gap is a second (reverse)
    recursion. Emits, per gap-ending event, the forward costs and the
    Viterbi burst label.

    Runs with <2 events or zero span have no gaps and emit nothing (the
    oracle filters identically)."""
    import math

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from orc_spark.operators.recurrence import partitioned_group_scan

    ev = load_table(spark, sf, "events").select("user_id", "event_id", "ts")

    def kernel(g: pd.DataFrame) -> pd.DataFrame:
        g = g.sort_values(["ts", "event_id"], kind="mergesort")
        t = g["ts"].to_numpy(np.int64)
        n = len(t)
        span = int(t[-1] - t[0])
        if n < 2 or span <= 0:
            return pd.DataFrame(
                {
                    "user_id": np.empty(0, dtype=np.int64),
                    "event_id": np.empty(0, dtype=np.int64),
                    "c0": np.empty(0, dtype=np.float64),
                    "c1": np.empty(0, dtype=np.float64),
                    "in_burst": np.empty(0, dtype=np.int32),
                }
            )
        a0 = float(n - 1) / float(span)
        a1 = BURST_S * a0
        l0 = -math.log(a0)
        l1 = -math.log(a1)
        gam = math.log(float(n))
        m = n - 1
        c0s = np.empty(m, dtype=np.float64)
        c1s = np.empty(m, dtype=np.float64)
        p0 = np.empty(m, dtype=np.int32)  # predecessor state of q0 at step i
        p1 = np.empty(m, dtype=np.int32)
        c0, c1 = 0.0, BURST_INF
        for i in range(m):
            x = float(t[i + 1] - t[i])
            cost0 = l0 + a0 * x
            cost1 = l1 + a1 * x
            p0[i] = 0 if c0 <= c1 else 1
            m0 = c0 if c0 <= c1 else c1
            up = c0 + gam
            p1[i] = 0 if up < c1 else 1
            m1 = up if up < c1 else c1
            c0, c1 = m0 + cost0, m1 + cost1
            c0s[i], c1s[i] = c0, c1
        # backtrack
        s = np.empty(m, dtype=np.int32)
        s[m - 1] = 1 if c1 < c0 else 0
        for i in range(m - 1, 0, -1):
            s[i - 1] = p1[i] if s[i] == 1 else p0[i]
        return pd.DataFrame(
            {
                "user_id": g["user_id"].to_numpy(np.int64)[1:],
                "event_id": g["event_id"].to_numpy(np.int64)[1:],
                "c0": c0s,
                "c1": c1s,
                "in_burst": s,
            }
        )

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("c0", T.DoubleType()),
            T.StructField("c1", T.DoubleType()),
            T.StructField("in_burst", T.IntegerType()),
        ]
    )
    return partitioned_group_scan(ev, ["user_id"], "ts", kernel, schema)


def _bursts_sql() -> str:
    # per-gap costs: cost_i = l_i + a_i * x, with the same op order as the
    # kernel (a*x first, then l + (a*x)); min-plus via CASE comparisons
    cost0 = "(b.l0 + b.a0 * b.x)"
    cost1 = "(b.l1 + b.a1 * b.x)"
    m0 = "(CASE WHEN r.c0 <= r.c1 THEN r.c0 ELSE r.c1 END)"
    m1 = "(CASE WHEN r.c0 + b.gam < r.c1 THEN r.c0 + b.gam ELSE r.c1 END)"
    return f"""
WITH RECURSIVE params AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n,
         max(epoch_us(ts)) - min(epoch_us(ts)) AS span
  FROM events GROUP BY user_id
  HAVING count(*) >= 2 AND max(epoch_us(ts)) > min(epoch_us(ts))
),
consts AS (
  SELECT user_id, n,
         CAST(n - 1 AS DOUBLE) / CAST(span AS DOUBLE) AS a0,
         CAST({BURST_S!r} AS DOUBLE)
           * (CAST(n - 1 AS DOUBLE) / CAST(span AS DOUBLE)) AS a1,
         -ln(CAST(n - 1 AS DOUBLE) / CAST(span AS DOUBLE)) AS l0,
         -ln(CAST({BURST_S!r} AS DOUBLE)
             * (CAST(n - 1 AS DOUBLE) / CAST(span AS DOUBLE))) AS l1,
         ln(CAST(n AS DOUBLE)) AS gam
  FROM params
),
seq AS (
  SELECT e.user_id, e.event_id, epoch_us(e.ts) AS ts,
         row_number() OVER (PARTITION BY e.user_id
                            ORDER BY epoch_us(e.ts), e.event_id) AS rn
  FROM events e JOIN params p ON e.user_id = p.user_id
),
gaps AS MATERIALIZED (
  SELECT s.user_id, s.event_id, s.rn - 1 AS g,
         CAST(s.ts - lag(s.ts) OVER (PARTITION BY s.user_id ORDER BY s.rn)
              AS DOUBLE) AS x,
         c.a0, c.a1, c.l0, c.l1, c.gam,
         max(s.rn - 1) OVER (PARTITION BY s.user_id) AS m
  FROM seq s JOIN consts c ON s.user_id = c.user_id
  QUALIFY s.rn >= 2
),
fwd (user_id, event_id, g, m, c0, c1, p0, p1) AS (
  SELECT b.user_id, b.event_id, b.g, b.m,
         CAST(0.0 AS DOUBLE) + {cost0},
         b.gam + {cost1},
         0, 0
  FROM gaps b WHERE b.g = 1
  UNION ALL
  SELECT b.user_id, b.event_id, b.g, b.m,
         {m0} + {cost0},
         {m1} + {cost1},
         CASE WHEN r.c0 <= r.c1 THEN 0 ELSE 1 END,
         CASE WHEN r.c0 + b.gam < r.c1 THEN 0 ELSE 1 END
  FROM fwd r JOIN gaps b ON b.user_id = r.user_id AND b.g = r.g + 1
),
fwd_m AS MATERIALIZED (SELECT * FROM fwd),
bwd (user_id, g, s, p0, p1) AS (
  SELECT user_id, g, CASE WHEN c1 < c0 THEN 1 ELSE 0 END, p0, p1
  FROM fwd_m WHERE g = m
  UNION ALL
  SELECT f.user_id, f.g,
         CASE WHEN r.s = 1 THEN r.p1 ELSE r.p0 END,
         f.p0, f.p1
  FROM bwd r JOIN fwd_m f ON f.user_id = r.user_id AND f.g = r.g - 1
  WHERE r.g > 1
)
SELECT f.user_id, f.event_id, f.c0, f.c1,
       CAST(b.s AS INTEGER) AS in_burst
FROM fwd_m f JOIN bwd b ON f.user_id = b.user_id AND f.g = b.g
"""


# --- token-bucket rate limiter (recursive stateful, integer-exact) -----------

TB_SCALE = 1_000_000         # micro-tokens per token
TB_CAP = 5 * TB_SCALE        # bucket capacity: 5 tokens
TB_REFILL_DIV = 60           # 1 token per minute == dt_us // 60 micro-tokens


def st_token_bucket(spark: SparkSession, sf: str) -> DataFrame:
    """Token-bucket rate limiting per user: the bucket refills at 1
    token/min up to 5, each admitted event spends one — so bursts up to 5
    pass while the sustained rate is capped (st_throttle's fixed-spacing
    complement, the shape API gateways actually deploy). All state is
    integer micro-tokens (refill = dt_us // 60 — truncating division both
    engines), so the replay is exact; the oracle steps the identical
    integer ops per recursive iteration."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from orc_spark.operators.recurrence import partitioned_group_scan

    ev = load_table(spark, sf, "events").select("user_id", "event_id", "ts")

    def kernel(g: pd.DataFrame) -> pd.DataFrame:
        g = g.sort_values(["ts", "event_id"], kind="mergesort")
        t = g["ts"].to_numpy(np.int64)
        adm = np.empty(len(t), dtype=np.int32)
        toks = np.empty(len(t), dtype=np.int64)
        nadm = np.empty(len(t), dtype=np.int64)
        tok = TB_CAP
        prev = None
        n = 0
        for i, x in enumerate(t):
            if prev is not None:
                tok = min(TB_CAP, tok + (x - prev) // TB_REFILL_DIV)
            prev = x
            if tok >= TB_SCALE:
                adm[i] = 1
                tok -= TB_SCALE
                n += 1
            else:
                adm[i] = 0
            toks[i] = tok
            nadm[i] = n
        return pd.DataFrame(
            {
                "user_id": g["user_id"].to_numpy(np.int64),
                "event_id": g["event_id"].to_numpy(np.int64),
                "admitted": adm,
                "tokens_after": toks,
                "n_admitted": nadm,
            }
        )

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("admitted", T.IntegerType()),
            T.StructField("tokens_after", T.LongType()),
            T.StructField("n_admitted", T.LongType()),
        ]
    )
    return partitioned_group_scan(ev, ["user_id"], "ts", kernel, schema)


def _token_bucket_sql() -> str:
    # refilled level from the previous state (first row: full bucket)
    refill = (
        f"least({TB_CAP}, r.tokens + (b.ts - r.ts) // {TB_REFILL_DIV})"
    )
    return f"""
WITH RECURSIVE base AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts), event_id) AS rn
  FROM events
),
rec (user_id, event_id, rn, ts, admitted, tokens, n_admitted) AS (
  SELECT user_id, event_id, rn, ts, 1,
         CAST({TB_CAP - TB_SCALE} AS BIGINT), CAST(1 AS BIGINT)
  FROM base WHERE rn = 1
  UNION ALL
  SELECT b.user_id, b.event_id, b.rn, b.ts,
         CASE WHEN {refill} >= {TB_SCALE} THEN 1 ELSE 0 END,
         CASE WHEN {refill} >= {TB_SCALE}
              THEN {refill} - {TB_SCALE} ELSE {refill} END,
         r.n_admitted + CASE WHEN {refill} >= {TB_SCALE} THEN 1 ELSE 0 END
  FROM rec r JOIN base b ON b.user_id = r.user_id AND b.rn = r.rn + 1
)
SELECT user_id, event_id, CAST(admitted AS INTEGER) AS admitted,
       tokens AS tokens_after, n_admitted
FROM rec
"""


# --- Holt double-exponential smoothing (recursive stateful, f64) -------------

HOLT_ALPHA = 0.3
HOLT_BETA = 0.1


def st_holt(spark: SparkSession, sf: str) -> DataFrame:
    """Holt's linear-trend smoother with 1-step-ahead forecasts: per user,
    f_i = l + t (prior state), l' = α·v_i + (1−α)·f_i, t' = β·(l'−l) +
    (1−β)·t — the level+trend forecaster between EWMA (level only) and
    Kalman (uncertainty-weighted). Emits level, trend and the forecast the
    model made BEFORE seeing each sample, so forecast error is readable
    per row. Same recurrence harness and recursive-CTE oracle as the
    EWMA/Kalman replays; constants are folded in Python and repr-inlined,
    op order matches line-for-line → bit-identical f64."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from orc_spark.operators.recurrence import partitioned_group_scan

    ev = load_table(spark, sf, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    a, ma = HOLT_ALPHA, 1.0 - HOLT_ALPHA
    b, mb = HOLT_BETA, 1.0 - HOLT_BETA

    def kernel(g: pd.DataFrame) -> pd.DataFrame:
        g = g.sort_values(["ts", "event_id"], kind="mergesort")
        v = g["value"].to_numpy(np.float64)
        lv = np.empty_like(v)
        tr = np.empty_like(v)
        fc = np.empty_like(v)
        l = v[0]
        t = 0.0
        lv[0] = l
        tr[0] = t
        fc[0] = v[0]
        for i in range(1, v.shape[0]):
            f = l + t
            l_new = a * v[i] + ma * f
            t = b * (l_new - l) + mb * t
            l = l_new
            fc[i] = f
            lv[i] = l
            tr[i] = t
        return pd.DataFrame(
            {
                "user_id": g["user_id"].to_numpy(np.int64),
                "event_id": g["event_id"].to_numpy(np.int64),
                "level": lv,
                "trend": tr,
                "forecast": fc,
            }
        )

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("level", T.DoubleType()),
            T.StructField("trend", T.DoubleType()),
            T.StructField("forecast", T.DoubleType()),
        ]
    )
    return partitioned_group_scan(ev, ["user_id"], "ts", kernel, schema)


def _holt_sql() -> str:
    a, ma = HOLT_ALPHA, 1.0 - HOLT_ALPHA
    b, mb = HOLT_BETA, 1.0 - HOLT_BETA
    f = "(r.l + r.t)"
    l_new = f"(CAST({a!r} AS DOUBLE) * b.value + CAST({ma!r} AS DOUBLE) * {f})"
    t_new = (
        f"(CAST({b!r} AS DOUBLE) * ({l_new} - r.l)"
        f" + CAST({mb!r} AS DOUBLE) * r.t)"
    )
    return f"""
WITH RECURSIVE base AS (
  SELECT user_id, event_id, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts), event_id) AS rn
  FROM events
),
rec (user_id, event_id, rn, l, t, f) AS (
  SELECT user_id, event_id, rn, CAST(value AS DOUBLE),
         CAST(0.0 AS DOUBLE), CAST(value AS DOUBLE)
  FROM base WHERE rn = 1
  UNION ALL
  SELECT b.user_id, b.event_id, b.rn, {l_new}, {t_new}, {f}
  FROM rec r JOIN base b ON b.user_id = r.user_id AND b.rn = r.rn + 1
)
SELECT user_id, event_id, l AS level, t AS trend, f AS forecast FROM rec
"""


# --- CUSUM changepoint detector (recursive stateful, bit-identical f64) ------

# Standard two-sided CUSUM (Page 1954): s+ accumulates excess above
# target+slack, s- accumulates deficit below target-slack; an alarm fires
# when either side crosses THRESH and that side resets. Constants folded in
# Python and repr-inlined so both engines see identical doubles.
CUSUM_TARGET = 50.0
CUSUM_SLACK = 5.0
CUSUM_THRESH = 150.0
_CUSUM_HI = CUSUM_TARGET + CUSUM_SLACK  # 55.0, exact
_CUSUM_LO = CUSUM_TARGET - CUSUM_SLACK  # 45.0, exact


def st_cusum(spark: SparkSession, sf: str) -> DataFrame:
    """Two-sided CUSUM changepoint detection over each user's value stream:
    s+_i = max(0, s+_{i-1} + (v_i − (μ+k))), s-_i = max(0, s-_{i-1} +
    ((μ−k) − v_i)); crossing THRESH fires an alarm and resets that side —
    the drift/shift monitor of statistical process control (the streaming
    complement of dq_drift's batch PSI). Float state evolves in the same
    sequential IEEE op order in both engines, so outputs are bit-identical
    f64 like the EWMA/Kalman replays; alarms are integer-exact."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from orc_spark.operators.recurrence import partitioned_group_scan

    ev = load_table(spark, sf, "events").select(
        "user_id", "event_id", "ts", "value"
    )

    def kernel(g: pd.DataFrame) -> pd.DataFrame:
        g = g.sort_values(["ts", "event_id"], kind="mergesort")
        v = g["value"].to_numpy(np.float64)
        sp_out = np.empty_like(v)
        sn_out = np.empty_like(v)
        al_out = np.empty(len(v), dtype=np.int64)
        sp = 0.0
        sn = 0.0
        alarms = 0
        for i, x in enumerate(v):
            tp = sp + (x - _CUSUM_HI)
            sp = tp if tp > 0.0 else 0.0
            tn = sn + (_CUSUM_LO - x)
            sn = tn if tn > 0.0 else 0.0
            if sp > CUSUM_THRESH:
                alarms += 1
                sp = 0.0
            if sn > CUSUM_THRESH:
                alarms += 1
                sn = 0.0
            sp_out[i] = sp
            sn_out[i] = sn
            al_out[i] = alarms
        return pd.DataFrame(
            {
                "user_id": g["user_id"].to_numpy(np.int64),
                "event_id": g["event_id"].to_numpy(np.int64),
                "s_pos": sp_out,
                "s_neg": sn_out,
                "n_alarms": al_out,
            }
        )

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("s_pos", T.DoubleType()),
            T.StructField("s_neg", T.DoubleType()),
            T.StructField("n_alarms", T.LongType()),
        ]
    )
    return partitioned_group_scan(ev, ["user_id"], "ts", kernel, schema)


def _cusum_sql() -> str:
    # The per-step update needs each intermediate (clamped sum, alarm test)
    # several times; recursive members can't name intermediates, so the
    # expressions repeat exactly as written in the kernel's op order.
    hi, lo, th = _CUSUM_HI, _CUSUM_LO, CUSUM_THRESH
    # clamped partial sums from previous state {p}
    tp = f"(r.sp + (b.value - CAST({hi!r} AS DOUBLE)))"
    tn = f"(r.sn + (CAST({lo!r} AS DOUBLE) - b.value))"
    cp = f"(CASE WHEN {tp} > 0 THEN {tp} ELSE CAST(0.0 AS DOUBLE) END)"
    cn = f"(CASE WHEN {tn} > 0 THEN {tn} ELSE CAST(0.0 AS DOUBLE) END)"
    # seed row (previous state = 0.0): 0.0 + y == y for every y, and a -0.0
    # result fails the > 0 test on both sides, so the seed uses y directly
    tp0 = f"(value - CAST({hi!r} AS DOUBLE))"
    tn0 = f"(CAST({lo!r} AS DOUBLE) - value)"
    cp0 = f"(CASE WHEN {tp0} > 0 THEN {tp0} ELSE CAST(0.0 AS DOUBLE) END)"
    cn0 = f"(CASE WHEN {tn0} > 0 THEN {tn0} ELSE CAST(0.0 AS DOUBLE) END)"
    return f"""
WITH RECURSIVE base AS (
  SELECT user_id, event_id, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts), event_id) AS rn
  FROM events
),
rec (user_id, event_id, rn, sp, sn, n_alarms) AS (
  SELECT user_id, event_id, rn,
         CASE WHEN {cp0} > {th!r} THEN CAST(0.0 AS DOUBLE) ELSE {cp0} END,
         CASE WHEN {cn0} > {th!r} THEN CAST(0.0 AS DOUBLE) ELSE {cn0} END,
         CAST(CASE WHEN {cp0} > {th!r} THEN 1 ELSE 0 END
              + CASE WHEN {cn0} > {th!r} THEN 1 ELSE 0 END AS BIGINT)
  FROM base WHERE rn = 1
  UNION ALL
  SELECT b.user_id, b.event_id, b.rn,
         CASE WHEN {cp} > {th!r} THEN CAST(0.0 AS DOUBLE) ELSE {cp} END,
         CASE WHEN {cn} > {th!r} THEN CAST(0.0 AS DOUBLE) ELSE {cn} END,
         r.n_alarms + CASE WHEN {cp} > {th!r} THEN 1 ELSE 0 END
                    + CASE WHEN {cn} > {th!r} THEN 1 ELSE 0 END
  FROM rec r JOIN base b ON b.user_id = r.user_id AND b.rn = r.rn + 1
)
SELECT user_id, event_id, sp AS s_pos, sn AS s_neg, n_alarms FROM rec
"""


QUERIES = [
    Query("st_ahrs_replay", st_ahrs_replay, _ahrs_sql(), "O4 AHRS fusion recurrence, hash-checked via recursive-CTE quaternion replay"),
    Query("st_pid_replay", st_pid_replay, _pid_sql(), "O9 PID recurrence, hash-checked via recursive-CTE sequential replay"),
    Query("st_imu_pipeline", st_imu_pipeline, _imu_sql(), "full firmware steady-loop replay, hash-checked via recursive-CTE (LOCF + AHRS + 3xPID + transform)"),
    Query("st_ewma", st_ewma, ST_EWMA_SQL, "EWMA smoothing, bit-identical f64 vs recursive-CTE replay"),
    Query("st_kalman", st_kalman, ST_KALMAN_SQL, "scalar Kalman filter, bit-identical f64 vs recursive-CTE replay"),
    Query("st_goertzel", st_goertzel, _goertzel_sql(), "Goertzel spectral power at period 4/8/16, fixed-point integer-exact"),
    Query("st_hysteresis", st_hysteresis, ST_HYST_SQL, "Schmitt-trigger hysteresis + flip counts, integer-exact replay"),
    Query("st_cusum", st_cusum, _cusum_sql(), "two-sided CUSUM changepoint alarms, bit-identical f64 replay"),
    Query("st_holt", st_holt, _holt_sql(), "Holt level+trend smoothing with 1-step forecasts, bit-identical f64 replay"),
    Query("st_throttle", st_throttle, ST_THROTTLE_SQL, "greedy event throttling/debounce, integer-exact replay"),
    Query("st_token_bucket", st_token_bucket, _token_bucket_sql(), "token-bucket rate limiter (burst-tolerant), integer-exact replay"),
    Query("st_bursts", st_bursts, _bursts_sql(), "Kleinberg 2-state burst detection: forward Viterbi + backtrack, bit-identical f64"),
]
