"""Seeded generator of ORCLOG firmware logs (FIXTURES.md F1) with a ledger.

A *fleet* is a set of campaigns; a campaign is a few log files recorded on one
day. Every file holds one block per actuator group (order drawn per file), and
each block holds 1-3 runs separated by ``Log Paused, now resuming:``. Run
``j`` of the enabled block and run ``j`` of the disabled block of one file
share their pitch amplitude, so the pitch statistics carry no treatment
effect, while the enabled group's accel amplitude is 20% lower (the planted
effect). Run lengths are drawn in 10,000-16,000 rows, paired across the two
blocks of a file so that every file of k runs per block holds exactly
k * 26,000 data rows: the seed moves values and run lengths, not the work.
Dirt per file: data rows before the first ``Log #`` (ignored),
unparsable 3-field rows (skipped), 2- and 4-field lines (ignored), an
``Interval:`` with a bad float (falls back to 1.0) and, in the first file of
the fleet, a first block with no ``Interval:`` line at all (1.0 default).

The ledger records what was written: per file, per (group, run) the data row
count, the sums of the three value columns and the data line numbers.
Values are written with ``%.4f`` from integer multiples of 1e-4, so the
ledger's ``k / 1e4`` floats are exactly what any float parser reads back.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np

INTERVAL_S = 0.000282
ACCEL_AMP = 0.08  # disabled-group accel amplitude, g
ACCEL_EFFECT = 0.80  # enabled/disabled accel amplitude ratio (planted effect)
PITCH_AMP = 12.0  # mean pitch amplitude, degrees
RUN_ROWS_MIN, RUN_ROWS_MAX = 10_000, 16_000  # data rows per run


@dataclass
class RunLedger:
    rows: int
    sums: tuple[float, float, float]
    line_nos: np.ndarray  # 0-based line numbers of the data rows


@dataclass
class FileLedger:
    name: str
    campaign: int
    # (actuators_enabled, run_idx) -> RunLedger
    runs: dict = field(default_factory=dict)

    @property
    def rows(self) -> int:
        return sum(r.rows for r in self.runs.values())


def _signal(rng: np.random.Generator, n: int, amp: float, noise: float) -> np.ndarray:
    """Sum of sinusoids + gaussian noise + sparse spikes, as int 1e-4 units."""
    t = np.arange(n, dtype=np.float64)
    x = np.zeros(n)
    for _ in range(3):
        period = rng.uniform(150.0, 900.0)
        x += rng.uniform(0.3, 1.0) * np.sin(2 * np.pi * t / period + rng.uniform(0, 6.3))
    x *= amp / np.sqrt(np.mean(x * x))
    x += rng.normal(0.0, noise * amp, n)
    spikes = rng.random(n) < 0.002
    x[spikes] += rng.choice([-1.0, 1.0], spikes.sum()) * 8 * amp
    return np.rint(x * 1e4).astype(np.int64)


def _fmt_rows(a: np.ndarray, p: np.ndarray, r: np.ndarray) -> list[str]:
    return list(map("{:.4f}, {:.4f}, {:.4f}".format, a / 1e4, p / 1e4, r / 1e4))


def write_file(
    rng: np.random.Generator,
    path: str,
    campaign: int,
    runs_per_block: int,
    no_interval_first: bool,
) -> FileLedger:
    led = FileLedger(os.path.basename(path), campaign)
    # data-shaped rows before any "Log #": ignored by the parser
    lines: list[str] = ["0.0100, 0.0200, 0.0300", "BOOT OK"]
    groups = [True, False] if rng.random() < 0.5 else [False, True]
    pitch_amps = PITCH_AMP * rng.uniform(0.6, 1.4, runs_per_block)
    # run j of the second block is as much shorter than the midpoint of the
    # range as run j of the first is longer: run lengths vary, a file's row
    # count does not
    first_rows = rng.integers(RUN_ROWS_MIN, RUN_ROWS_MAX + 1, runs_per_block)
    run_rows = [first_rows, RUN_ROWS_MIN + RUN_ROWS_MAX - first_rows]
    for bi, enabled in enumerate(groups):
        lines.append(f"Log #: {int(rng.integers(0, 10000))}")
        lines.append(f"Actuators {'enabled' if enabled else 'disabled'}")
        if not (no_interval_first and bi == 0):
            lines.append(f"Interval:{INTERVAL_S:f}")
        lines.append("Acceleration, Pitch, Roll")  # 3 fields, unparsable
        for run in range(runs_per_block):
            if run:
                lines.append("Log Paused, now resuming:")
            n = int(run_rows[bi][run])
            amp = ACCEL_AMP * (ACCEL_EFFECT if enabled else 1.0)
            a = _signal(rng, n, amp * rng.uniform(0.98, 1.02), 0.3)
            p = _signal(rng, n, pitch_amps[run], 0.2)
            r = _signal(rng, n, 8.0 * rng.uniform(0.8, 1.2), 0.2)
            rows = _fmt_rows(a, p, r)
            # dirt at three random places inside the run: a bad float row, a
            # 2-field line and a 4-field line (none of them is data)
            cut = sorted(rng.choice(np.arange(1, n), 3, replace=False))
            bad = ["0.1234, ERR, 0.5000", "12.5000, 3.2500", "1.0, 2.0, 3.0, 4.0"]
            # data row i moves down by the dirt lines placed before it
            line_nos = len(lines) + np.arange(n) + np.searchsorted(cut, np.arange(n), side="right")
            for lo, hi, b in zip([0] + cut, cut + [n], bad + [None]):
                lines.extend(rows[lo:hi])
                if b is not None:
                    lines.append(b)
            led.runs[(enabled, run)] = RunLedger(
                rows=n,
                sums=(float(np.sum(a / 1e4)), float(np.sum(p / 1e4)), float(np.sum(r / 1e4))),
                line_nos=line_nos,
            )
        if bi == 0:
            lines.append("Interval:n/a")  # bad float: interval falls back to 1.0
    with open(path, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    return led


def _splits(n: int) -> list[tuple[int, ...]]:
    """Ways to write ``n`` runs per group as files of 1-3 runs per block."""
    if n == 0:
        return [()]
    return [(k,) + rest for k in (1, 2, 3) if k <= n for rest in _splits(n - k)]


def generate_fleet(
    seed: int, out_dir: str, campaigns: int, runs_per_group: int, files: int
) -> list[FileLedger]:
    """Write the campaigns' log files into ``out_dir`` (``ORCLOG_<campaign>
    _<file>.CSV``) and return their ledgers. Every campaign holds
    ``runs_per_group`` runs of each group in ``files`` files, so campaigns do
    the same work, split over files of different sizes."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    splits = [s for s in _splits(runs_per_group) if len(s) == files]
    ledgers = []
    for c in range(campaigns):
        split = splits[int(rng.integers(len(splits)))]
        for f, runs in enumerate(split):
            path = os.path.join(out_dir, f"ORCLOG_{c:02d}_{f:02d}.CSV")
            ledgers.append(
                write_file(rng, path, c, runs, no_interval_first=(c == 0 and f == 0))
            )
    return ledgers
