"""`orclog_full_report` against the benchmark's numpy oracle on generated logs.

The golden tests (test_orclog_golden.py) need the reference's real log; this
one does not. It writes a campaign with the benchmark's seeded ORCLOG
generator (`perfbench/fleet.py`) and compares every report column with
`perfbench/oracle.full_report`, at the benchmark's own per-column tolerances
(`perfbench/workloads.py` `_check_report`). Two degenerate logs ride along:
a constant channel (zero variance in both groups: t and p are NULL where
scipy gives NaN, never an ANSI DIVIDE_BY_ZERO) and a log with one group only
(no test is possible: zero rows).
"""

from __future__ import annotations

import math
import os
import sys

import numpy as np
import pytest

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")
)

import fleet  # noqa: E402
import oracle  # noqa: E402


def _tol(col: str, want: float) -> float:
    if col.startswith("p_"):
        return 1e-6 * abs(want) + 1e-9
    if col.startswith("t_"):
        return 1e-7 * abs(want) + 1e-9
    return 1e-9 * abs(want) + 1e-12


def _write_log(path: str, groups: list[bool], rows: list[str], runs: int = 2) -> None:
    lines = []
    for i, enabled in enumerate(groups):
        lines += [
            f"Log #: {i + 1}",
            f"Actuators {'enabled' if enabled else 'disabled'}",
            f"Interval:{fleet.INTERVAL_S:f}",
        ]
        for r in range(runs):
            if r:
                lines.append("Log Paused, now resuming:")
            lines += rows
    with open(path, "w") as fh:
        fh.write("\n".join(lines) + "\n")


def _campaign(kind: str, d: str) -> list[str]:
    if kind == "fleet":
        leds = fleet.generate_fleet(7, d, campaigns=1, runs_per_group=2, files=2)
        return [os.path.join(d, led.name) for led in leds]
    path = os.path.join(d, "ORCLOG_degenerate.CSV")
    if kind == "constant_channel":
        _write_log(path, [True, False], ["0.5000, 1.0000, 2.0000"] * 40)
    else:  # one_group
        rng = np.random.default_rng(7)
        _write_log(path, [True], [f"{v:.4f}, 1.0000, 2.0000" for v in rng.normal(0, 1, 40)])
    return [path]


@pytest.mark.parametrize("kind", ["fleet", "constant_channel", "one_group"])
def test_orclog_full_report_matches_numpy_oracle(spark, tmp_path, kind):
    from orc_spark.plans.orclog_e2e import orclog_full_report

    files = _campaign(kind, str(tmp_path))
    got = {r["metric"]: r.asDict() for r in orclog_full_report(spark, files).collect()}
    if kind == "one_group":
        assert got == {}
        return
    with np.errstate(all="ignore"):
        want = oracle.full_report(oracle.parse_runs({f: open(f).read() for f in files}))
    assert set(got) == set(want)
    for metric, row in want.items():
        for col, w in row.items():
            g = got[metric][col]
            if kind == "constant_channel" and col[:2] in ("t_", "p_"):
                assert g is None and math.isnan(w), (metric, col, g, w)
                continue
            assert g is not None and abs(g - w) <= _tol(col, w), (metric, col, g, w)
