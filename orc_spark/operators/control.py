"""Control-path replay operators (reference O9/O10/O11).

- corner_transform: 3-DoF → 4-corner mixing (Transform.c:61-82, distances
  ORC_CONFIG.h:58-61) — pure column arithmetic, codegen'd.
- pid_replay: the PID recurrence (PID.c:24-91) as a per-run applyInPandas
  grouped map: each output depends on previous state, so it cannot be a
  window aggregate; parallelism is across runs (one run never spans
  executors), vectorization is numpy inside the UDF.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# distances from COG (ORC_CONFIG.h:58-61), double precision
A_COG = 0.011  # front axle
B_COG = 0.018  # rear axle
C_COG = 0.008  # drive side
D_COG = 0.008  # passenger side

# precomputed mixing coefficients (set_distances, Transform.c:34-45)
A_2AB = A_COG / (2.0 * (A_COG + B_COG))
B_2AB = B_COG / (2.0 * (A_COG + B_COG))
INV_2AB = 1.0 / (2.0 * (A_COG + B_COG))
INV_2CD = 1.0 / (2.0 * (C_COG + D_COG))

UINT16_MAX = 65535.0


def corner_transform(
    df: DataFrame, fz: str = "fz", ftheta: str = "ftheta", fphi: str = "fphi"
) -> DataFrame:
    """act1..4 = mix(fZ, fθ, fφ) + 32768, clamped to [0, 65535], truncated —
    exact Transform.c:61-82 semantics ((uint16_t) C cast = floor for the
    clamped non-negative value). Engine computes in float64; the firmware's
    float32 is reproduced in tests via the strict_f32 replay path."""
    z, t, p = F.col(fz), F.col(ftheta), F.col(fphi)
    raw = {
        "act1": F.lit(B_2AB) * z - F.lit(INV_2AB) * t + F.lit(INV_2CD) * p + 32768.0,
        "act2": F.lit(B_2AB) * z - F.lit(INV_2AB) * t - F.lit(INV_2CD) * p + 32768.0,
        "act3": F.lit(A_2AB) * z + F.lit(INV_2AB) * t + F.lit(INV_2CD) * p + 32768.0,
        "act4": F.lit(A_2AB) * z + F.lit(INV_2AB) * t - F.lit(INV_2CD) * p + 32768.0,
    }
    out = df
    for name, expr in raw.items():
        clamped = F.least(F.greatest(expr, F.lit(0.0)), F.lit(UINT16_MAX))
        out = out.withColumn(name, F.floor(clamped).cast("bigint"))
    return out


def corner_transform_sql(fz: str = "fz", ftheta: str = "ftheta", fphi: str = "fphi") -> dict[str, str]:
    """DuckDB SQL snippets using bit-identical double constants (repr round-trip)."""
    out = {}
    for name, (czs, ts, ps) in {
        "act1": (B_2AB, "-", "+"),
        "act2": (B_2AB, "-", "-"),
        "act3": (A_2AB, "+", "+"),
        "act4": (A_2AB, "+", "-"),
    }.items():
        expr = (
            f"{czs!r} * {fz} {ts} {INV_2AB!r} * {ftheta} {ps} {INV_2CD!r} * {fphi} + 32768.0"
        )
        out[name] = (
            f"CAST(floor(least(greatest({expr}, 0.0), 65535.0)) AS BIGINT) AS {name}"
        )
    return out


# --- PID (O9) ---------------------------------------------------------------

# gains (ORC_CONFIG.h:63-71). NOTE the reference quirk (ORC_Main.c:456-470):
# the PITCH controller is loaded with ROLL_K* and vice versa. `pid_replay`
# takes explicit gains; callers choose faithful (swapped) or corrected wiring.
Z_XL_GAINS = (-30000.0, -0.0, -1800.0)
PITCH_GAINS = (-70.0, -1.50, -1.0)
ROLL_GAINS = (-50.0, -1.50, -1.0)
DERIVATIVE_CUTOFF_HZ = 100.0


def pid_params(
    kp: float,
    ki: float,
    kd: float,
    sample_time: float,
    lim_min: float,
    lim_max: float,
    tau: float | None = None,
) -> dict:
    if tau is None:
        tau = 1.0 / (np.pi * DERIVATIVE_CUTOFF_HZ)  # ORC_Main.c:429-430
    return dict(kp=kp, ki=ki, kd=kd, T=sample_time, tau=tau,
                lim_min=lim_min, lim_max=lim_max)


def pid_scan(measurement: np.ndarray, setpoint, params: dict, f32: bool = True) -> np.ndarray:
    """Sequential PID recurrence (PID.c:24-91): P + trapezoidal I with dynamic
    anti-windup clamping + band-limited derivative on measurement + output
    clamp. ``f32=True`` runs the whole recurrence in float32 like the
    firmware; ``f32=False`` routes to a plain-float engine (~30× faster,
    float64). Returns the float output BEFORE the (int16_t) return cast
    (PID.c:89); callers truncate if they want DAC codes."""
    if not f32:
        out, _ = pid_scan_fast_f64(measurement, setpoint, params, (0.0,) * 4)
        return out
    dt = np.float32
    kp, ki, kd = dt(params["kp"]), dt(params["ki"]), dt(params["kd"])
    T, tau = dt(params["T"]), dt(params["tau"])
    lim_min, lim_max = dt(params["lim_min"]), dt(params["lim_max"])
    half, two = dt(0.5), dt(2.0)
    m = np.asarray(measurement, dtype=dt)
    sp = np.broadcast_to(np.asarray(setpoint, dtype=dt), m.shape)
    integ = dt(0.0)
    prev_err = dt(0.0)
    diff = dt(0.0)
    prev_m = dt(0.0)
    out = np.empty_like(m)
    for i in range(m.shape[0]):
        err = dt(sp[i] - m[i])
        prop = dt(kp * err)
        integ = dt(integ + half * ki * T * (err + prev_err))
        lim_max_int = dt(lim_max - prop) if lim_max > prop else dt(0.0)
        lim_min_int = dt(lim_min - prop) if lim_min < prop else dt(0.0)
        if integ > lim_max_int:
            integ = lim_max_int
        elif integ < lim_min_int:
            integ = lim_min_int
        diff = dt(
            (-two * kd * (m[i] - prev_m) + (two * tau - T) * diff)
            / (two * tau + T)
        )
        o = dt(prop + integ + diff)
        if o > lim_max:
            o = lim_max
        elif o < lim_min:
            o = lim_min
        out[i] = o
        prev_err = err
        prev_m = m[i]
    return out


def pid_scan_fast_f64(
    measurement: np.ndarray, setpoint, params: dict, state: tuple
) -> tuple[np.ndarray, tuple]:
    """Plain-Python-float PID recurrence — identical f64 math, no per-step
    numpy scalar overhead. Resumable: ``state`` is the 4-double carry
    ``(integ, prev_err, diff, prev_m)`` going in, and the carry after the
    last sample comes back as ``(out, state)`` — the streaming PID continues
    it across micro-batches."""
    kp, ki, kd = params["kp"], params["ki"], params["kd"]
    T_, tau = params["T"], params["tau"]
    lim_min, lim_max = params["lim_min"], params["lim_max"]
    m = np.asarray(measurement, dtype=np.float64)
    sp_arr = np.broadcast_to(np.asarray(setpoint, dtype=np.float64), m.shape)
    integ, prev_err, diff, prev_m = state
    out = np.empty_like(m)
    two_tau_minus = 2.0 * tau - T_
    two_tau_plus = 2.0 * tau + T_
    for i in range(m.shape[0]):
        mi = float(m[i])
        err = float(sp_arr[i]) - mi
        prop = kp * err
        integ = integ + 0.5 * ki * T_ * (err + prev_err)
        lim_max_int = lim_max - prop if lim_max > prop else 0.0
        lim_min_int = lim_min - prop if lim_min < prop else 0.0
        if integ > lim_max_int:
            integ = lim_max_int
        elif integ < lim_min_int:
            integ = lim_min_int
        diff = (-2.0 * kd * (mi - prev_m) + two_tau_minus * diff) / two_tau_plus
        o = prop + integ + diff
        if o > lim_max:
            o = lim_max
        elif o < lim_min:
            o = lim_min
        out[i] = o
        prev_err = err
        prev_m = mi
    return out, (integ, prev_err, diff, prev_m)


def pid_replay(
    df: DataFrame,
    measurement_col: str,
    partition_cols: Sequence[str],
    order_col: str,
    params: dict,
    setpoint: float = 0.0,
    out_col: str = "pid_out",
    f32: bool = True,
) -> DataFrame:
    """Distributed PID replay: groupBy(run).applyInPandas with the numpy
    recurrence. Scale contract: runs are bounded (seconds-minutes of samples);
    the shuffle is one row-exchange on the run key; state never crosses runs."""
    keep = list(partition_cols) + [order_col, measurement_col]
    schema = T.StructType(
        [df.schema[c] for c in keep] + [T.StructField(out_col, T.DoubleType())]
    )

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col)
        out = pid_scan(pdf[measurement_col].to_numpy(), setpoint, params, f32=f32)
        pdf = pdf[keep].copy()
        pdf[out_col] = out.astype(np.float64)
        return pdf

    from orc_spark.operators.recurrence import partitioned_group_scan

    return partitioned_group_scan(
        df.select(keep), partition_cols, order_col, fn, schema
    )
