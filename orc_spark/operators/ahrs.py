"""AHRS sensor-fusion replay (reference O4/O5/O6, vendored x-io Fusion lib).

Re-implements the semantics of Madgwick's public Fusion AHRS (complementary
filter with gravity-direction feedback) as documented in SURVEY §2.A O4:
`FusionAhrs.c:113-217` (update), `46-102` (settings/reset), `224-247`
(half gravity), `292-297` (feedback), `FusionMath.h` (quaternion ops,
fast inverse sqrt), app config `ORC_Main.c:140-147` (ENU, gain 0.5,
10° acceleration rejection, 490 dps reinit range, ~5 s recovery, no mag).

This is a strictly sequential recurrence — each quaternion depends on the
previous — so the Spark mapping is a grouped-map `applyInPandas` per run
(O(1) state, numpy loop inside, Arrow batch I/O). Parallelism is ACROSS
runs; one run never spans executors. Streaming variant: the same step
function drives applyInPandasWithState (orc_spark.streaming.windows).

``f32=True`` replays the firmware's float32 arithmetic including the
bit-trick fast inverse sqrt (FUSION_USE_NORMAL_SQRT is off in the vendored
build); ``f32=False`` runs clean float64 with exact 1/sqrt.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from typing import Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T

FLT_MAX = np.float32(3.4028235e38)
INITIAL_GAIN = 10.0
INITIALISATION_PERIOD = 3.0


def fast_inverse_sqrt_f32(x: np.float32) -> np.float32:
    """The Fusion library's float32 bit-trick reciprocal sqrt with one
    refinement step (FusionMath.h:169-178). Needed for bit-faithful replay."""
    xf = np.float32(x)
    i = xf.view(np.int32)
    i = np.int32(0x5F1F1412 - (i >> 1))
    y = i.view(np.float32)
    return np.float32(y * (np.float32(1.69000231) - np.float32(0.714158168) * xf * y * y))


@dataclass
class AhrsSettings:
    gain: float = 0.5
    gyroscope_range_dps: float = 500.0       # 0 → disabled
    acceleration_rejection_deg: float = 10.0  # 0 → disabled
    recovery_trigger_period: int = 17730      # ≈ 5 s / 0.000282 s
    sample_time: float = 0.000282


@dataclass
class AhrsState:
    q: np.ndarray = field(default_factory=lambda: np.array([1.0, 0.0, 0.0, 0.0]))
    initialising: bool = True
    ramped_gain: float = INITIAL_GAIN
    accel_recovery_trigger: int = 0
    accel_recovery_timeout: int = 0


class AhrsReplay:
    """Scalar (per-run) replay engine. State is 7 numbers — serializable for
    the streaming stateful operator."""

    def __init__(self, settings: AhrsSettings, f32: bool = True):
        self.s = settings
        self.f32 = f32
        self.dt = np.float32 if f32 else np.float64
        d = self.dt
        self.gyro_range = (
            FLT_MAX if settings.gyroscope_range_dps == 0.0
            else d(d(0.98) * d(settings.gyroscope_range_dps))
        )
        if settings.gain == 0.0 or settings.recovery_trigger_period == 0:
            self.accel_rejection = FLT_MAX
        elif settings.acceleration_rejection_deg == 0.0:
            self.accel_rejection = FLT_MAX
        else:
            half_sin = d(0.5) * d(np.sin(d(np.radians(d(settings.acceleration_rejection_deg)))))
            self.accel_rejection = d(half_sin * half_sin)
        self.ramped_gain_step = d((d(INITIAL_GAIN) - d(settings.gain)) / d(INITIALISATION_PERIOD))
        self.state = AhrsState()
        self.state.accel_recovery_timeout = settings.recovery_trigger_period

    # -- primitives ----------------------------------------------------------
    def _inv_sqrt(self, x):
        if self.f32:
            return fast_inverse_sqrt_f32(np.float32(x))
        return 1.0 / math.sqrt(x)

    def _normalise3(self, v):
        return v * self._inv_sqrt(np.dot(v, v))

    def reset(self):
        st = self.state
        st.q = np.array([1.0, 0.0, 0.0, 0.0], dtype=self.dt)
        st.initialising = True
        st.ramped_gain = self.dt(INITIAL_GAIN)
        st.accel_recovery_trigger = 0
        st.accel_recovery_timeout = self.s.recovery_trigger_period

    def _set_heading_zero(self):
        d = self.dt
        w, x, y, z = self.state.q
        yaw = d(np.arctan2(d(w * z + x * y), d(d(0.5) - y * y - z * z)))
        half = d(d(0.5) * yaw)
        rw, rz = d(np.cos(half)), d(-np.sin(half))
        # quaternion multiply (rotation ⊗ q), rotation has x=y=0
        self.state.q = np.array(
            [
                rw * w - rz * z,
                rw * x - rz * y,
                rw * y + rz * x,
                rw * z + rz * w,
            ],
            dtype=d,
        )

    def update_no_magnetometer(self, gyro_dps, accel_g):
        """One firmware-loop step. Returns (quaternion, euler_deg, linear_g)."""
        d = self.dt
        s, st = self.s, self.state
        g = np.asarray(gyro_dps, dtype=d)
        a = np.asarray(accel_g, dtype=d)

        # gyroscope range reinit (keeps quaternion, restarts init ramp)
        if np.any(np.abs(g) > self.gyro_range):
            q = st.q.copy()
            self.reset()
            st = self.state
            st.q = q

        # gain ramp during initialisation
        if st.initialising:
            st.ramped_gain = d(st.ramped_gain - self.ramped_gain_step * d(s.sample_time))
            if st.ramped_gain < d(s.gain) or s.gain == 0.0:
                st.ramped_gain = d(s.gain)
                st.initialising = False

        # half gravity from quaternion (ENU = third column of R^T / 2)
        w, x, y, z = st.q
        half_gravity = np.array(
            [x * z - w * y, y * z + w * x, w * w - d(0.5) + z * z], dtype=d
        )

        # accelerometer feedback with rejection + recovery bookkeeping
        half_accel_feedback = np.zeros(3, dtype=d)
        if np.any(a != 0.0):
            sensor = self._normalise3(a)
            fb = np.cross(sensor, half_gravity).astype(d)
            if np.dot(sensor, half_gravity) < 0.0:  # error > 90°
                fb = self._normalise3(fb)
            ignored = True
            if st.initialising or np.dot(fb, fb) <= self.accel_rejection:
                ignored = False
                st.accel_recovery_trigger -= 9
            else:
                st.accel_recovery_trigger += 1
            if st.accel_recovery_trigger > st.accel_recovery_timeout:
                st.accel_recovery_timeout = 0
                ignored = False
            else:
                st.accel_recovery_timeout = s.recovery_trigger_period
            st.accel_recovery_trigger = min(
                max(st.accel_recovery_trigger, 0), s.recovery_trigger_period
            )
            if not ignored:
                half_accel_feedback = fb

        # integrate: q += q ⊗ (half_gyro_rad + gain·feedback)·dt
        half_gyro = g * d(np.radians(d(0.5)))
        adj = (half_gyro + half_accel_feedback * st.ramped_gain) * d(s.sample_time)
        w, x, y, z = st.q
        dq = np.array(
            [
                -x * adj[0] - y * adj[1] - z * adj[2],
                w * adj[0] + y * adj[2] - z * adj[1],
                w * adj[1] - x * adj[2] + z * adj[0],
                w * adj[2] + x * adj[1] - y * adj[0],
            ],
            dtype=d,
        )
        q = st.q + dq
        st.q = q * self._inv_sqrt(np.dot(q, q))

        if st.initialising:
            self._set_heading_zero()

        # outputs: ZYX euler (deg) + linear acceleration (ENU: a − R^T·ẑ)
        w, x, y, z = st.q
        half_minus_qyy = d(0.5) - y * y
        roll = d(np.degrees(np.arctan2(d(w * x + y * z), d(half_minus_qyy - x * x))))
        sp = d(2.0) * d(w * y - z * x)
        sp_c = min(max(float(sp), -1.0), 1.0)
        pitch = d(np.degrees(np.arcsin(d(sp_c))))
        yaw = d(np.degrees(np.arctan2(d(w * z + x * y), d(half_minus_qyy - z * z))))
        gravity = np.array(
            [d(2.0) * (x * z - w * y), d(2.0) * (y * z + w * x), d(2.0) * (w * w - d(0.5) + z * z)],
            dtype=d,
        )
        linear = a - gravity
        return st.q.copy(), (roll, pitch, yaw), linear


AHRS_OUT_FIELDS = [
    ("qw", T.DoubleType()),
    ("qx", T.DoubleType()),
    ("qy", T.DoubleType()),
    ("qz", T.DoubleType()),
    ("roll_deg", T.DoubleType()),
    ("pitch_deg", T.DoubleType()),
    ("yaw_deg", T.DoubleType()),
    ("lin_x", T.DoubleType()),
    ("lin_y", T.DoubleType()),
    ("lin_z", T.DoubleType()),
]


def ahrs_scan_fast_f64(
    gyro: np.ndarray,
    accel: np.ndarray,
    settings: AhrsSettings,
    init_state: tuple | None = None,
    return_state: bool = False,
) -> dict[str, np.ndarray] | tuple[dict[str, np.ndarray], tuple]:
    """Float64 recurrence in plain Python floats (no per-step numpy object
    overhead) — ~50× the numpy-scalar loop. Same semantics as AhrsReplay with
    f32=False and exact 1/sqrt. This is the production batch path; the f32
    path exists for bit-faithful firmware replay.

    ``init_state``/``return_state`` carry the 8-value recurrence state
    (qw, qx, qy, qz, initialising, ramped_gain, rec_trigger, rec_timeout)
    across calls — the streaming stateful operator
    (orc_spark.streaming.windows.ahrs_streaming) resumes the filter across
    micro-batches through exactly this tuple, so stream == batch by
    construction (anchor FusionAhrs.c:113-217)."""
    s = settings
    n = gyro.shape[0]
    gx_a, gy_a, gz_a = (gyro[:, j].astype(np.float64) for j in range(3))
    ax_a, ay_a, az_a = (accel[:, j].astype(np.float64) for j in range(3))
    gyro_range = 1e308 if s.gyroscope_range_dps == 0.0 else 0.98 * s.gyroscope_range_dps
    if s.gain == 0.0 or s.recovery_trigger_period == 0 or s.acceleration_rejection_deg == 0.0:
        accel_rejection = 1e308
    else:
        hs = 0.5 * math.sin(math.radians(s.acceleration_rejection_deg))
        accel_rejection = hs * hs
    ramp_step = (INITIAL_GAIN - s.gain) / INITIALISATION_PERIOD
    dt_s = s.sample_time
    deg = math.degrees
    half_dps_to_rad = math.radians(0.5)

    if init_state is None:
        qw, qx, qy, qz = 1.0, 0.0, 0.0, 0.0
        initialising = True
        ramped_gain = INITIAL_GAIN
        rec_trigger = 0
        rec_timeout = s.recovery_trigger_period
    else:
        (qw, qx, qy, qz, initialising, ramped_gain, rec_trigger, rec_timeout) = (
            init_state
        )
    out = {name: np.empty(n) for name, _ in AHRS_OUT_FIELDS}
    o_qw, o_qx, o_qy, o_qz = out["qw"], out["qx"], out["qy"], out["qz"]
    o_r, o_p, o_y = out["roll_deg"], out["pitch_deg"], out["yaw_deg"]
    o_lx, o_ly, o_lz = out["lin_x"], out["lin_y"], out["lin_z"]

    for i in range(n):
        gx, gy, gz = gx_a[i], gy_a[i], gz_a[i]
        ax, ay, az = ax_a[i], ay_a[i], az_a[i]
        if abs(gx) > gyro_range or abs(gy) > gyro_range or abs(gz) > gyro_range:
            initialising = True
            ramped_gain = INITIAL_GAIN
            rec_trigger = 0
            rec_timeout = s.recovery_trigger_period
        if initialising:
            ramped_gain -= ramp_step * dt_s
            if ramped_gain < s.gain or s.gain == 0.0:
                ramped_gain = s.gain
                initialising = False
        # half gravity (ENU)
        hgx = qx * qz - qw * qy
        hgy = qy * qz + qw * qx
        hgz = qw * qw - 0.5 + qz * qz
        fbx = fby = fbz = 0.0
        if ax != 0.0 or ay != 0.0 or az != 0.0:
            inv = 1.0 / math.sqrt(ax * ax + ay * ay + az * az)
            sx, sy, sz = ax * inv, ay * inv, az * inv
            cx = sy * hgz - sz * hgy
            cy = sz * hgx - sx * hgz
            cz = sx * hgy - sy * hgx
            if sx * hgx + sy * hgy + sz * hgz < 0.0:
                m2 = cx * cx + cy * cy + cz * cz
                if m2 > 0.0:
                    inv = 1.0 / math.sqrt(m2)
                    cx, cy, cz = cx * inv, cy * inv, cz * inv
            ignored = True
            if initialising or cx * cx + cy * cy + cz * cz <= accel_rejection:
                ignored = False
                rec_trigger -= 9
            else:
                rec_trigger += 1
            if rec_trigger > rec_timeout:
                rec_timeout = 0
                ignored = False
            else:
                rec_timeout = s.recovery_trigger_period
            if rec_trigger < 0:
                rec_trigger = 0
            elif rec_trigger > s.recovery_trigger_period:
                rec_trigger = s.recovery_trigger_period
            if not ignored:
                fbx, fby, fbz = cx, cy, cz
        adjx = (gx * half_dps_to_rad + fbx * ramped_gain) * dt_s
        adjy = (gy * half_dps_to_rad + fby * ramped_gain) * dt_s
        adjz = (gz * half_dps_to_rad + fbz * ramped_gain) * dt_s
        nqw = qw + (-qx * adjx - qy * adjy - qz * adjz)
        nqx = qx + (qw * adjx + qy * adjz - qz * adjy)
        nqy = qy + (qw * adjy - qx * adjz + qz * adjx)
        nqz = qz + (qw * adjz + qx * adjy - qy * adjx)
        inv = 1.0 / math.sqrt(nqw * nqw + nqx * nqx + nqy * nqy + nqz * nqz)
        qw, qx, qy, qz = nqw * inv, nqx * inv, nqy * inv, nqz * inv
        if initialising:
            yaw_r = math.atan2(qw * qz + qx * qy, 0.5 - qy * qy - qz * qz)
            half = 0.5 * yaw_r
            rw, rz = math.cos(half), -math.sin(half)
            qw, qx, qy, qz = (
                rw * qw - rz * qz,
                rw * qx - rz * qy,
                rw * qy + rz * qx,
                rw * qz + rz * qw,
            )
        o_qw[i], o_qx[i], o_qy[i], o_qz[i] = qw, qx, qy, qz
        hmq = 0.5 - qy * qy
        o_r[i] = deg(math.atan2(qw * qx + qy * qz, hmq - qx * qx))
        sp = 2.0 * (qw * qy - qz * qx)
        if sp > 1.0:
            sp = 1.0
        elif sp < -1.0:
            sp = -1.0
        o_p[i] = deg(math.asin(sp))
        o_y[i] = deg(math.atan2(qw * qz + qx * qy, hmq - qz * qz))
        o_lx[i] = ax - 2.0 * (qx * qz - qw * qy)
        o_ly[i] = ay - 2.0 * (qy * qz + qw * qx)
        o_lz[i] = az - 2.0 * (qw * qw - 0.5 + qz * qz)
    if return_state:
        final = (qw, qx, qy, qz, initialising, ramped_gain, rec_trigger, rec_timeout)
        return out, final
    return out


def ahrs_scan_arrays(
    gyro: np.ndarray, accel: np.ndarray, settings: AhrsSettings, f32: bool = True
) -> dict[str, np.ndarray]:
    """Run the recurrence over (n,3) gyro/accel arrays; returns output columns.
    f32=False routes to the fast plain-float engine (identical f64 math)."""
    if not f32:
        return ahrs_scan_fast_f64(gyro, accel, settings)
    n = gyro.shape[0]
    eng = AhrsReplay(settings, f32=f32)
    out = {name: np.empty(n) for name, _ in AHRS_OUT_FIELDS}
    for i in range(n):
        q, (roll, pitch, yaw), lin = eng.update_no_magnetometer(gyro[i], accel[i])
        out["qw"][i], out["qx"][i], out["qy"][i], out["qz"][i] = q
        out["roll_deg"][i], out["pitch_deg"][i], out["yaw_deg"][i] = roll, pitch, yaw
        out["lin_x"][i], out["lin_y"][i], out["lin_z"][i] = lin
    return out


def ahrs_replay(
    df: DataFrame,
    partition_cols: Sequence[str],
    order_col: str,
    settings: AhrsSettings | None = None,
    f32: bool = True,
    gyro_cols: Sequence[str] = ("gy_x", "gy_y", "gy_z"),
    accel_cols: Sequence[str] = ("ax_x", "ax_y", "ax_z"),
) -> DataFrame:
    """Distributed AHRS replay: one applyInPandas recurrence per run."""
    settings = settings or AhrsSettings()
    keep = list(partition_cols) + [order_col]
    schema = T.StructType(
        [df.schema[c] for c in keep]
        + [T.StructField(n, t) for n, t in AHRS_OUT_FIELDS]
    )
    gcols, acols = list(gyro_cols), list(accel_cols)

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col)
        res = ahrs_scan_arrays(
            pdf[gcols].to_numpy(dtype=np.float64),
            pdf[acols].to_numpy(dtype=np.float64),
            settings,
            f32=f32,
        )
        out = pdf[keep].copy()
        for name, _ in AHRS_OUT_FIELDS:
            out[name] = res[name]
        return out

    from orc_spark.operators.recurrence import partitioned_group_scan

    return partitioned_group_scan(df, partition_cols, order_col, fn, schema)
