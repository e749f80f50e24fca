"""Plain numpy/Python oracles for the ORCLOG workloads.

Written apart from ``orc_spark`` (nothing here imports it) from the reference
semantics (``Python Plotting/main.py``, PID.c): a line-by-line state-machine
parse, zero-padded 15-wide median filter, ``np.gradient``, per-run RMS/min/
max, per-group mean/variance and one-sided Welch t-tests whose p-values come
from a Student-t CDF computed here by the incomplete-beta continued fraction.
"""

from __future__ import annotations

import math

import numpy as np

# (report label, source column index, derivative?) — accel, pitch, roll, jerk
METRICS = [("accel", 0, False), ("pitch", 1, False), ("roll", 2, False), ("jerk", 0, True)]
ALTS = {"rms": "less", "min": "greater", "max": "less"}


def parse_runs(text_by_file: dict[str, str]) -> dict[tuple, np.ndarray]:
    """{(file, actuators_enabled, run_idx): (n, 3) array in sample order}.

    Markers match on the text before the first comma: ``Log #`` starts a
    block and resets the run counter, ``Actuators`` sets the group (enabled
    iff the word ``enabled`` appears), ``Log Paused`` starts the next run.
    A data row has exactly three comma-separated fields that all parse as
    floats and is kept only once a block and a group have been seen. Runs of
    one group in later blocks of the same file append to the same run index.
    """
    runs: dict[tuple, list] = {}
    for fname, text in text_by_file.items():
        log_seen = False
        group = None
        run_no = 0
        for line in text.split("\n"):
            line = line.rstrip("\r")
            fields = line.split(",")
            head = fields[0]
            if head.startswith("Log #"):
                log_seen = True
                run_no = 0
            elif "Actuators" in head:
                group = "enabled" in head
            elif head.startswith("Interval:") or head.startswith("Log Paused"):
                if head.startswith("Log Paused"):
                    run_no += 1
            elif len(fields) == 3 and log_seen and group is not None:
                try:
                    vals = [float(f) for f in fields]
                except ValueError:
                    continue
                runs.setdefault((fname, group, run_no), []).append(vals)
    return {k: np.asarray(v, dtype=np.float64) for k, v in runs.items()}


def medfilt15(x: np.ndarray) -> np.ndarray:
    """Centered 15-wide median with zero padding (scipy.signal.medfilt)."""
    padded = np.concatenate([np.zeros(7), x, np.zeros(7)])
    win = np.lib.stride_tricks.sliding_window_view(padded, 15)
    return np.median(win, axis=1)


def run_statistics(runs: dict[tuple, np.ndarray]) -> dict[tuple, dict]:
    """Per run: {(metric, stat): value} after filtering (jerk = gradient of
    the filtered accel)."""
    out = {}
    for key, arr in runs.items():
        filt = [medfilt15(arr[:, i]) for i in range(3)]
        stats = {}
        for label, col, deriv in METRICS:
            x = np.gradient(filt[col]) if deriv else filt[col]
            stats[(label, "rms")] = float(np.sqrt(np.mean(x * x)))
            stats[(label, "min")] = float(np.min(x))
            stats[(label, "max")] = float(np.max(x))
        out[key] = stats
    return out


def _betacf(a: float, b: float, x: float) -> float:
    """Continued fraction of the regularized incomplete beta (modified Lentz)."""
    tiny = 1e-300
    qab, qap, qam = a + b, a + 1.0, a - 1.0
    c, d = 1.0, 1.0 - qab * x / qap
    d = 1.0 / (d if abs(d) > tiny else tiny)
    h = d
    for m in range(1, 500):
        m2 = 2 * m
        aa = m * (b - m) * x / ((qam + m2) * (a + m2))
        d = 1.0 + aa * d
        d = 1.0 / (d if abs(d) > tiny else tiny)
        c = 1.0 + aa / c
        c = c if abs(c) > tiny else tiny
        h *= d * c
        aa = -(a + m) * (qab + m) * x / ((a + m2) * (qap + m2))
        d = 1.0 + aa * d
        d = 1.0 / (d if abs(d) > tiny else tiny)
        c = 1.0 + aa / c
        c = c if abs(c) > tiny else tiny
        delta = d * c
        h *= delta
        if abs(delta - 1.0) < 1e-16:
            break
    return h


def betainc(a: float, b: float, x: float) -> float:
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    lbt = math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b) + a * math.log(x) + b * math.log1p(-x)
    if x < (a + 1.0) / (a + b + 2.0):
        return math.exp(lbt) * _betacf(a, b, x) / a
    return 1.0 - math.exp(lbt) * _betacf(b, a, 1.0 - x) / b


def t_cdf(t: float, dof: float) -> float:
    """Student-t CDF via I_{v/(v+t^2)}(v/2, 1/2)."""
    tail = 0.5 * betainc(dof / 2.0, 0.5, dof / (dof + t * t))
    return 1.0 - tail if t > 0 else tail


def t_sf(t: float, dof: float) -> float:
    """1 - CDF, accurate in the upper tail."""
    return t_cdf(-t, dof)


def welch(on: np.ndarray, off: np.ndarray, alternative: str) -> tuple[float, float, float]:
    """(t, p, dof) of the one-sided Welch test of on vs off."""
    n1, n2 = len(on), len(off)
    v1, v2 = np.var(on, ddof=1), np.var(off, ddof=1)
    se2 = v1 / n1 + v2 / n2
    t = (np.mean(on) - np.mean(off)) / math.sqrt(se2)
    dof = se2 * se2 / ((v1 / n1) ** 2 / (n1 - 1) + (v2 / n2) ** 2 / (n2 - 1))
    p = t_cdf(t, dof) if alternative == "less" else t_sf(t, dof)
    return float(t), float(p), float(dof)


def full_report(runs: dict[tuple, np.ndarray]) -> dict[str, dict]:
    """metric -> {avg_<stat>_on/off, t_<stat>, p_<stat>, n_runs_on/off}."""
    per_run = run_statistics(runs)
    report = {}
    for label, _c, _d in METRICS:
        row = {}
        for stat in ("rms", "min", "max"):
            on = np.array([s[(label, stat)] for k, s in per_run.items() if k[1]])
            off = np.array([s[(label, stat)] for k, s in per_run.items() if not k[1]])
            t, p, _dof = welch(on, off, ALTS[stat])
            row[f"avg_{stat}_on"] = float(np.mean(on))
            row[f"avg_{stat}_off"] = float(np.mean(off))
            row[f"t_{stat}"] = t
            row[f"p_{stat}"] = p
            row["n_runs_on"], row["n_runs_off"] = float(len(on)), float(len(off))
        report[label] = row
    return report


def pid_f64(m: np.ndarray, kp, ki, kd, T, tau, lim_min, lim_max, setpoint=0.0) -> np.ndarray:
    """The reference PID recurrence (PID.c:24-91) in double precision:
    proportional + trapezoidal integral clamped by dynamic anti-windup limits
    + band-limited derivative on measurement, output clamped to the limits."""
    integ = prev_err = diff = prev_m = 0.0
    out = np.empty(len(m))
    for i, mi in enumerate(m.tolist()):
        err = setpoint - mi
        prop = kp * err
        integ += 0.5 * ki * T * (err + prev_err)
        hi = lim_max - prop if lim_max > prop else 0.0
        lo = lim_min - prop if lim_min < prop else 0.0
        integ = hi if integ > hi else lo if integ < lo else integ
        # Tustin band-limited derivative, on measurement (hence -Kd)
        diff = (-2.0 * kd * (mi - prev_m) + (2.0 * tau - T) * diff) / (2.0 * tau + T)
        o = prop + integ + diff
        out[i] = lim_max if o > lim_max else lim_min if o < lim_min else o
        prev_err, prev_m = err, mi
    return out
