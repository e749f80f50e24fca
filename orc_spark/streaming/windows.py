"""Structured Streaming event-time surface: tumbling/sliding/session windows
with watermarks (SURVEY §2.C R8) plus a stateful streaming PID.

The batch-replay equivalents (r8_*) are the hash-checked correctness surface;
these run the same logic as real streams (file source → watermark → windowed
agg → sink) and are asserted batch==stream in tests.
"""

from __future__ import annotations

from typing import Iterator, Sequence

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from orc_spark.operators.control import pid_scan_fast_f64


def stream_event_windows(
    events: DataFrame,
    kind: str = "tumbling",
    watermark: str = "2 hours",
    window: str = "1 hour",
    slide: str = "15 minutes",
    gap: str = "30 minutes",
) -> DataFrame:
    """Windowed aggregation over a (streaming or batch) events DataFrame with
    a `ts` timestamp column. Late rows beyond the watermark are dropped by
    the engine in streaming mode."""
    ev = events.withWatermark("ts", watermark)
    if kind == "tumbling":
        win = F.window("ts", window)
    elif kind == "sliding":
        win = F.window("ts", window, slide)
    elif kind == "session":
        win = F.session_window("ts", gap)
    else:
        raise ValueError(kind)
    return ev.groupBy(win, "event_type").agg(
        F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value")
    ).select(
        F.unix_millis(F.col("window.start")).alias("window_start_ms"),
        "event_type",
        "n_events",
        "sum_value",
    )


# --- stateful streaming PID (O9 as a stream operator) -----------------------

_PID_STATE_SCHEMA = T.StructType(
    [
        T.StructField("integ", T.DoubleType()),
        T.StructField("prev_err", T.DoubleType()),
        T.StructField("diff", T.DoubleType()),
        T.StructField("prev_m", T.DoubleType()),
    ]
)


def pid_stream_output_schema(key_field: T.StructField) -> T.StructType:
    return T.StructType(
        [
            key_field,
            T.StructField("ord", T.LongType()),
            T.StructField("meas", T.DoubleType()),
            T.StructField("pid_out", T.DoubleType()),
        ]
    )


def make_pid_stateful_fn(params: dict, setpoint: float = 0.0):
    """Builds the applyInPandasWithState function: continues the PID
    recurrence of ``control.pid_scan_fast_f64`` across micro-batches via its
    4-double state. Float64 (streaming mode documents f64; strict-f32 replay
    is the batch path). Output is the raw float, matching batch pid_scan
    (callers truncate to int16 for DAC codes)."""

    def fn(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        st = state.get if state.exists else (0.0,) * 4
        outs = []
        for pdf in pdfs:
            pdf = pdf.sort_values("ord")
            out, st = pid_scan_fast_f64(pdf["meas"], setpoint, params, st)
            pdf = pdf.copy()
            pdf["pid_out"] = out
            outs.append(pdf)
        state.update(st)
        yield from outs

    return fn


def pid_streaming(
    stream_df: DataFrame,
    key_col: str,
    params: dict,
    setpoint: float = 0.0,
) -> DataFrame:
    """Apply the stateful PID to a streaming DataFrame with columns
    (key_col, ord, meas). Output mode must be 'append'/'update'."""
    key_field = stream_df.schema[key_col]
    return stream_df.groupBy(key_col).applyInPandasWithState(
        make_pid_stateful_fn(params, setpoint),
        outputStructType=pid_stream_output_schema(key_field),
        stateStructType=_PID_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- stateful streaming AHRS (O4 as a stream operator) -----------------------

_AHRS_STATE_SCHEMA = T.StructType(
    [
        T.StructField("qw", T.DoubleType()),
        T.StructField("qx", T.DoubleType()),
        T.StructField("qy", T.DoubleType()),
        T.StructField("qz", T.DoubleType()),
        T.StructField("initialising", T.BooleanType()),
        T.StructField("ramped_gain", T.DoubleType()),
        T.StructField("rec_trigger", T.IntegerType()),
        T.StructField("rec_timeout", T.IntegerType()),
    ]
)

_AHRS_STREAM_COLS = ["gy_x", "gy_y", "gy_z", "ax_x", "ax_y", "ax_z"]


def ahrs_stream_output_schema(key_field: T.StructField) -> T.StructType:
    from orc_spark.operators.ahrs import AHRS_OUT_FIELDS

    return T.StructType(
        [key_field, T.StructField("ord", T.LongType())]
        + [T.StructField(n, t) for n, t in AHRS_OUT_FIELDS]
    )


def make_ahrs_stateful_fn(settings, key_col: str):
    """applyInPandasWithState function continuing the AHRS fusion recurrence
    (anchor FusionAhrs.c:113-217) across micro-batches via the 8-value state
    tuple of ahrs_scan_fast_f64. Float64 streaming mode, same contract as the
    stateful PID above; the strict-f32 firmware replay stays the batch path."""
    import numpy as np

    from orc_spark.operators.ahrs import AHRS_OUT_FIELDS, ahrs_scan_fast_f64

    def fn(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        st = tuple(state.get) if state.exists else None
        outs = []
        for pdf in pdfs:
            pdf = pdf.sort_values("ord")
            res, st = ahrs_scan_fast_f64(
                pdf[["gy_x", "gy_y", "gy_z"]].to_numpy(dtype=np.float64),
                pdf[["ax_x", "ax_y", "ax_z"]].to_numpy(dtype=np.float64),
                settings,
                init_state=st,
                return_state=True,
            )
            out = pdf[[key_col, "ord"]].copy()
            for name, _ in AHRS_OUT_FIELDS:
                out[name] = res[name]
            outs.append(out)
        if st is not None:
            state.update(
                (
                    float(st[0]), float(st[1]), float(st[2]), float(st[3]),
                    bool(st[4]), float(st[5]), int(st[6]), int(st[7]),
                )
            )
        yield from outs

    return fn


def ahrs_streaming(stream_df: DataFrame, key_col: str, settings=None) -> DataFrame:
    """Apply the stateful AHRS to a streaming DataFrame with columns
    (key_col, ord, gy_x, gy_y, gy_z, ax_x, ax_y, ax_z). One run (group) never
    spans executors; parallelism is across runs, identical to the batch
    ahrs_replay contract."""
    from orc_spark.operators.ahrs import AhrsSettings

    settings = settings or AhrsSettings()
    key_field = stream_df.schema[key_col]
    return stream_df.groupBy(key_col).applyInPandasWithState(
        make_ahrs_stateful_fn(settings, key_col),
        outputStructType=ahrs_stream_output_schema(key_field),
        stateStructType=_AHRS_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
