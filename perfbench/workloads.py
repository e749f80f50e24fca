"""The benchmark's workloads.

Each workload generates its inputs from the seed in ``setup``, runs its fixed
list of operations once per ``run_pass`` (a closed loop: one client, the next
operation starts when the previous one has finished) and, after the timed
window, checks the program's outputs against computations made apart from the
program in ``check``. Operations are materialised with the ``noop`` writer,
which runs every column of the plan (``count()`` would let Catalyst prune).
"""

from __future__ import annotations

import itertools
import math
import os
import shutil
import time
from dataclasses import dataclass, field
from urllib.parse import urlparse

import numpy as np
import pandas as pd

import fleet
import oracle
import warehouse_data
from spans import Counters, Tracer, job_group_counters


@dataclass
class OpResult:
    kind: str
    seconds: float
    ok: bool
    counters: Counters | None = None


@dataclass
class Ctx:
    spark: object
    seed: int
    work_dir: str
    tracer: Tracer
    # per-layer samples collected in traced mode: name -> list of floats
    layer: dict = field(default_factory=dict)
    timed: bool = False  # True inside the timed window
    op_seq: itertools.count = field(default_factory=itertools.count)

    def sample(self, name: str, value: float) -> None:
        if self.timed:
            self.layer.setdefault(name, []).append(value)


def materialise(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def drop_caches(spark) -> None:
    """Unpersist every RDD except the plan memo's pinned checkpoints and
    clear the SQL cache, so no operation reuses another's cached blocks."""
    from orc_spark.plan_memo import pinned_rdd_ids

    pinned = pinned_rdd_ids(spark)
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in list(jmap.keySet().toArray()):
        if int(rid) not in pinned:
            jmap.get(rid).unpersist(False)
    spark.catalog.clearCache()


def timed_op(ctx: Ctx, kind: str, fn) -> OpResult:
    """Run one operation; in traced mode under its own job group, whose
    status-store counters are attached to the result."""
    drop_caches(ctx.spark)
    group = None
    if ctx.tracer.enabled:
        group = f"perfbench-{next(ctx.op_seq)}"
        ctx.spark.sparkContext.setJobGroup(group, kind)
    t0 = time.perf_counter()
    ok = True
    try:
        fn()
    except Exception as e:  # noqa: BLE001 — a failed op is counted, the run goes on
        ok = False
        print(f"# op {kind} failed: {type(e).__name__}: {str(e)[:300]}", flush=True)
    dt = time.perf_counter() - t0
    counters = None
    if group is not None:
        ctx.spark.sparkContext.setJobGroup("perfbench-idle", "between operations")
        counters = job_group_counters(ctx.spark, group)
    return OpResult(kind, dt, ok, counters)


# --------------------------------------------------------------------------
# sensor_fleet
# --------------------------------------------------------------------------

RUN_KEY = ["file", "actuators_enabled", "run_idx"]
PID_LIMIT = 2000.0


class SensorFleet:
    """One campaign of generated firmware logs, analysed and ingested.

    A pass runs three kinds of operation: the full report (parse, median
    filters, jerk, per-run stats, group means, Welch tests), a PID replay
    over the parsed runs, and the file-stream ingest of the campaign's logs
    (availableNow, one file per trigger) into a fresh ORC table, whose
    micro-batches are the third kind."""

    name = "sensor_fleet"
    # the first pass costs 25-30 s (class loading, code generation, Python
    # worker start), the next ones 10-12 s, getting faster by a few per cent
    # a pass. A second warm-up pass left the spread of the timed pass as it
    # was (the host's CPU steal dominates it) and costs a tenth of the budget
    WARMUP_PASSES = 1
    RUNS_PER_GROUP = 2
    FILES = 2
    FILES_PER_TRIGGER = 1

    def setup(self, ctx: Ctx) -> None:
        from orc_spark.operators.control import PITCH_GAINS, pid_params

        self.dir = os.path.join(ctx.work_dir, "fleet")
        self.ledgers = fleet.generate_fleet(ctx.seed, self.dir, 1, self.RUNS_PER_GROUP, self.FILES)
        self.files = [os.path.join(self.dir, led.name) for led in self.ledgers]
        self.rows = sum(led.rows for led in self.ledgers)
        kp, ki, kd = PITCH_GAINS
        self.pid = pid_params(kp, ki, kd, fleet.INTERVAL_S, -PID_LIMIT, PID_LIMIT)
        self.n_ingest = 0
        self.out_dir = None

    def _report(self, ctx):
        from orc_spark.plans.orclog_e2e import orclog_full_report

        with ctx.tracer.span("plans.orclog_e2e.orclog_full_report"):
            return orclog_full_report(ctx.spark, self.files)

    def _replay(self, ctx):
        from orc_spark.operators.control import pid_replay
        from orc_spark.sources.orclog import parse_orclog

        with ctx.tracer.span("sources.orclog.parse_orclog"):
            parsed = parse_orclog(ctx.spark, self.files)
        with ctx.tracer.span("operators.control.pid_replay"):
            return pid_replay(parsed, "pitch_deg", RUN_KEY, "sample_idx", self.pid)

    def run_pass(self, ctx: Ctx) -> list[OpResult]:
        rep = timed_op(ctx, "report", lambda: materialise(self._report(ctx)))
        pid = timed_op(ctx, "pid_replay", lambda: materialise(self._replay(ctx)))
        if ctx.tracer.enabled:
            from orc_spark.sources.orclog import parse_orclog

            # the parse prefix alone: report and replay minus it give the
            # operators' share
            parse = timed_op(ctx, "parse", lambda: materialise(parse_orclog(ctx.spark, self.files)))
            ctx.sample("sources.orclog.parse_s", parse.seconds)
            ctx.sample("sources.orclog.rows_per_s", self.rows / parse.seconds)
            ctx.sample("operators.report_s", rep.seconds - parse.seconds)
            ctx.sample("operators.recurrence_s", pid.seconds - parse.seconds)
        return [rep, pid] + self._ingest(ctx)

    def _ingest(self, ctx: Ctx) -> list[OpResult]:
        from orc_spark.streaming.orclog_stream import stream_orclog_parse

        if self.out_dir is not None:
            shutil.rmtree(os.path.dirname(self.out_dir), ignore_errors=True)
        self.n_ingest += 1
        base = os.path.join(ctx.work_dir, f"ingest_{self.n_ingest}")
        self.out_dir = os.path.join(base, "table")
        drop_caches(ctx.spark)
        n_batches = math.ceil(len(self.files) / self.FILES_PER_TRIGGER)
        try:
            with ctx.tracer.span("streaming.orclog_stream.stream_orclog_parse"):
                q = stream_orclog_parse(
                    ctx.spark, self.dir, os.path.join(base, "checkpoint"), self.out_dir,
                    max_files_per_trigger=self.FILES_PER_TRIGGER,
                )
                q.awaitTermination()
            progress = [p for p in q.recentProgress if p.numInputRows > 0]
        except Exception as e:  # noqa: BLE001 — a failed drain fails its batches
            print(f"# ingest failed: {type(e).__name__}: {str(e)[:300]}", flush=True)
            return [OpResult("micro_batch", 0.0, False)] * n_batches
        ops = [
            OpResult("micro_batch", p.durationMs["triggerExecution"] / 1000.0, True)
            for p in progress
        ]
        ops += [OpResult("micro_batch", 0.0, False)] * (n_batches - len(ops))
        if ctx.tracer.enabled:
            c = job_group_counters(ctx.spark, str(q.runId))
            # the stream runs all its micro-batches under one job group:
            # spread the drain's counters evenly over them
            for op in ops:
                op.counters = Counters(**{k: v / len(ops) for k, v in c.__dict__.items()})
            trig = [p.durationMs["triggerExecution"] / 1000.0 for p in progress]
            add = [p.durationMs.get("addBatch", 0) / 1000.0 for p in progress]
            for t, a in zip(trig, add):
                ctx.sample("streaming.batch_s", t)
                ctx.sample("streaming.add_batch_s", a)
                ctx.sample("streaming.commit_s", t - a)
            ctx.sample("streaming.rows_per_s", self.rows / sum(trig))
            size = sum(
                os.path.getsize(os.path.join(dp, f))
                for dp, _, fs in os.walk(self.out_dir) for f in fs if f.endswith(".orc")
            )
            ctx.sample("io.orc_bytes_per_row", size / self.rows)
            rb = timed_op(ctx, "readback", lambda: materialise(ctx.spark.read.orc(self.out_dir)))
            ctx.sample("io.readback_s", rb.seconds)
        return ops

    def check(self, ctx: Ctx) -> list[tuple[str, bool, str]]:
        runs = oracle.parse_runs({f: open(f).read() for f in self.files})
        return [self._check_report(ctx, runs), self._check_pid(ctx, runs)] + self._check_ingest(ctx)

    def _check_report(self, ctx, runs):
        name = "report"
        want = oracle.full_report(runs)
        got = {r["metric"]: r for r in self._report(ctx).toPandas().to_dict("records")}
        if set(got) != set(want):
            return name, False, f"metrics {sorted(got)} != {sorted(want)}"
        for metric, row in want.items():
            for col, w in row.items():
                g = float(got[metric][col])
                if col.startswith("p_"):
                    tol = 1e-6 * abs(w) + 1e-9
                elif col.startswith("t_"):
                    tol = 1e-7 * abs(w) + 1e-9
                else:
                    tol = 1e-9 * abs(w) + 1e-12
                if not abs(g - w) <= tol:
                    return name, False, f"{metric}.{col}: program {g!r} oracle {w!r}"
        # the planted effect is found, the null metric is not
        if not got["accel"]["p_rms"] < 0.05:
            return name, False, f"planted accel effect missed: p={got['accel']['p_rms']}"
        if not got["pitch"]["p_rms"] > 0.05:
            return name, False, f"null pitch effect detected: p={got['pitch']['p_rms']}"
        return name, True, ""

    def _check_pid(self, ctx, runs):
        name = "pid_replay"
        pdf = self._replay(ctx).toPandas()
        if len(pdf) != sum(len(a) for a in runs.values()):
            return name, False, f"{len(pdf)} rows, oracle {sum(len(a) for a in runs.values())}"
        p = self.pid
        for (f, grp, run), g in pdf.groupby(RUN_KEY):
            key = (urlparse(f).path, bool(grp), int(run))
            if key not in runs:
                return name, False, f"unexpected run {key}"
            g = g.sort_values("sample_idx")
            want = oracle.pid_f64(
                runs[key][:, 1], p["kp"], p["ki"], p["kd"], p["T"], p["tau"],
                p["lim_min"], p["lim_max"],
            )
            out = g["pid_out"].to_numpy()
            if out.min() < p["lim_min"] or out.max() > p["lim_max"]:
                return name, False, f"{key}: output outside its limits"
            # float32 recurrence vs float64: a float32 step of the output
            # range plus relative float32 rounding of each value
            tol = 1e-5 * (p["lim_max"] - p["lim_min"]) + 1e-5 * np.abs(want)
            bad = np.abs(out - want) > tol
            if bad.any():
                i = int(np.argmax(bad))
                return name, False, f"{key}[{i}]: program {out[i]!r} oracle {want[i]!r}"
        return name, True, ""

    def _check_ingest(self, ctx) -> list[tuple[str, bool, str]]:
        """The last pass's ORC table against the generator's ledger."""
        pdf = ctx.spark.read.orc(self.out_dir).select(
            "file", "line_no", "actuators_enabled", "run_idx", "accel_g", "pitch_deg", "roll_deg"
        ).toPandas()
        pdf["name"] = pdf["file"].map(os.path.basename)
        by_file = dict(tuple(pdf.groupby("name")))
        results = []
        for led in self.ledgers:
            name = f"ingest[{led.name}]"
            g = by_file.get(led.name)
            if g is None:
                results.append((name, False, "file missing from the table"))
                continue
            problem = "duplicate rows" if g["line_no"].duplicated().any() else ""
            runs = dict(tuple(g.groupby(["actuators_enabled", "run_idx"])))
            if not problem and set(runs) != set(led.runs):
                problem = f"runs {sorted(runs)} != ledger {sorted(led.runs)}"
            for key, want in led.runs.items() if not problem else ():
                r = runs[key]
                lines = np.sort(r["line_no"].to_numpy())
                if len(r) != want.rows or not np.array_equal(lines, want.line_nos):
                    problem = f"run {key}: {len(r)} rows, ledger {want.rows} (or a dirt line got in)"
                    break
                sums = r[["accel_g", "pitch_deg", "roll_deg"]].sum().to_numpy()
                if not np.allclose(sums, want.sums, rtol=1e-9, atol=1e-6):
                    problem = f"run {key}: sums {sums.tolist()} != ledger {list(want.sums)}"
                    break
            results.append((name, not problem, problem))
        return results


# --------------------------------------------------------------------------
# query_mix
# --------------------------------------------------------------------------


def _round_sig(v):
    if v is None or (isinstance(v, float) and not math.isfinite(v)):
        return v
    if isinstance(v, (float, np.floating)):
        return 0.0 if v == 0 else float(f"{float(v):.9g}")
    return v


def _hashable(v):
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_hashable(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _hashable(x)) for k, x in v.items()))
    if v is None or (isinstance(v, float) and math.isnan(v)) or v is pd.NA or v is pd.NaT:
        return None
    if isinstance(v, np.integer):
        return int(v)
    if isinstance(v, (float, np.floating)):
        return _round_sig(float(v))
    if isinstance(v, pd.Timestamp):
        return v.value
    return v


def canonical_rows(pdf: pd.DataFrame) -> tuple[list[str], list[tuple]]:
    """Columns by name, values rounded to 9 significant digits, rows sorted."""
    cols = sorted(pdf.columns)
    rows = [tuple(_hashable(v) for v in r) for r in pdf[cols].itertuples(index=False)]
    return cols, sorted(rows, key=lambda r: tuple((x is None, repr(type(x)), x if x is not None else 0) for x in r))


def _close(a, b) -> bool:
    """Equal at 9 significant digits; a pair straddling a rounding boundary
    differs by at most one unit in the ninth digit."""
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) and not isinstance(a, bool):
        return a == b or abs(a - b) <= 1e-8 * max(abs(a), abs(b))
    return a == b


class QueryMix:
    """A fixed list of registry queries over generated parquet tables:
    relational and event-analytics plans that run in the JVM only, and
    dedup/text/ANN plans whose work is done by the Arrow/numpy kernels."""

    name = "query_mix"
    # the first pass costs about 20 s, the next ones 3.5, 3.0, 2.8 s, and
    # passes keep getting faster for about 15 passes while the JIT compiles.
    # Over five seeds, 3 warm-up passes and a 6 s window spread pass_s by
    # 0.13 of its median, 4 and 8 s by 0.05
    WARMUP_PASSES = 4
    SF = 0.01
    QUERIES = [
        # JVM-only: TPC-H Q3 joins + top-k, cube, window top-k, sessionize
        "r3_shipping_priority", "r4b_cube", "r5_window_topk", "ev_sessionize",
        # Python kernels: MinHash pairs (gramscan + hashing, plan memo),
        # embedding cosine pairs (similarity)
        "dd_minhash_pairs", "dd_embcos",
    ]

    def setup(self, ctx: Ctx) -> None:
        from orc_spark.plans import registry
        from orc_spark.sources import tables

        self.dir = os.path.join(ctx.work_dir, "tables")
        warehouse_data.write_tables(ctx.seed, self.SF, self.dir)
        # the tables are written once and never changed: let the program's
        # plan memo serve them, as it serves the reference testdata
        tables.CACHEABLE_PREFIXES.append(self.dir)
        reg = registry()
        self.queries = {q: reg[q] for q in self.QUERIES}

    def _build(self, ctx, q):
        with ctx.tracer.span("plans.spark_fn"):
            t0 = time.perf_counter()
            df = self.queries[q].spark_fn(ctx.spark, self.dir)
            ctx.sample(f"build:{q}", time.perf_counter() - t0)
        return df

    def run_pass(self, ctx: Ctx) -> list[OpResult]:
        out = []
        for q in self.QUERIES:
            r = timed_op(ctx, q, lambda q=q: materialise(self._build(ctx, q)))
            out.append(r)
            ctx.sample(f"plans.{q}.p50_s", r.seconds)
        return out

    def check(self, ctx: Ctx) -> list[tuple[str, bool, str]]:
        import duckdb

        con = duckdb.connect()
        con.execute("SET threads TO 2")
        for t in warehouse_data.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.dir}/{t}.parquet')")
        results = []
        for q in self.QUERIES:
            try:
                got = self.queries[q].spark_fn(ctx.spark, self.dir).toPandas()
                want = con.execute(self.queries[q].oracle).df()
            except Exception as e:  # noqa: BLE001 — a crash is a failed check
                results.append((q, False, f"{type(e).__name__}: {str(e)[:200]}"))
                continue
            gc, gr = canonical_rows(got)
            wc, wr = canonical_rows(want)
            if gc != wc:
                results.append((q, False, f"columns {gc} != oracle {wc}"))
            elif len(gr) != len(wr):
                results.append((q, False, f"{len(gr)} rows, oracle {len(wr)}"))
            else:
                bad = [i for i, (a, b) in enumerate(zip(gr, wr)) if not _close(a, b)]
                results.append((q, not bad, f"row {bad[0]}: {gr[bad[0]]} != {wr[bad[0]]}" if bad else ""))
        con.close()
        return results


WORKLOADS = {w.name: w for w in (SensorFleet, QueryMix)}
