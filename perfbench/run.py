"""orc_spark benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload sensor_fleet --seed 1 --seconds 8 --trace 0

Runs from the root of a source checkout, pinned to half of its CPUs and on
``local[`` that many ``]``: generates the workload's inputs from the seed,
runs the workload's untimed warm-up passes, then whole passes until
``--seconds`` have elapsed, then checks the outputs against
computations made apart from the program. The last line of stdout is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``). Every
file the run writes lives under ``.bench_run/`` in the checkout.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ["sensor_fleet", "query_mix"]
END_TO_END = {"setup_s": "s", "pass_s": "s", "op_p50_s": "s", "peak_rss_mb": "MB"}
# JVM heap, fixed (initial = maximum): the host is shared, no workload needs
# more, and a heap that does not resize makes the peak resident set
# repeatable (with a 1 GB cap alone the JVM's peak ranged from 820 to
# 1,185 MB between runs of the same code)
DRIVER_MEM = "1g"


def pin_cpus() -> int:
    """Pin this process, and so the JVM and the Python workers it starts, to
    the first half of its CPUs, and return how many that is. On a VM whose
    host is shared, the time the host takes from the VM grows with the number
    of its busy CPUs (1-6% with one busy, 5-17% with two, 12-27% with four,
    on a 4-vCPU VM), and a Spark job's latency grows by two to three times
    the share taken: half the CPUs, all of them used, time far more
    steadily."""
    cpus = sorted(os.sched_getaffinity(0))
    keep = cpus[: max(1, len(cpus) // 2)]
    os.sched_setaffinity(0, keep)
    return len(keep)


def per_layer_names(mix_queries: list[str]) -> dict[str, str]:
    names = {
        "session.start_s": "s",
        "sources.orclog.parse_s": "s",
        "sources.orclog.rows_per_s": "rows/s",
        "sources.tables.load_s": "s",
        "operators.report_s": "s",
        "operators.recurrence_s": "s",
        "plans.build_s": "s",
        "plans.exec_s": "s",
    }
    names.update({f"plans.{q}.p50_s": "s" for q in mix_queries})
    names.update({
        "plans.jobs_per_op": "count",
        "plans.stages_per_op": "count",
        "plans.tasks_per_op": "count",
        "plans.task_s_per_op": "s",
        "plans.core_util": "ratio",
        "plans.gc_s_per_op": "s",
        "plans.shuffle_mb_per_op": "MB",
        "streaming.batch_s": "s",
        "streaming.add_batch_s": "s",
        "streaming.commit_s": "s",
        "streaming.rows_per_s": "rows/s",
        "io.orc_bytes_per_row": "B",
        "io.readback_s": "s",
        "trace.pass_s": "s",
        "trace.op_tail_s": "s",
        "trace.op_tail_n": "count",
    })
    return names


def isolate_run_dir(work_dir: str, cores: int) -> None:
    """Point every temp, scratch and warehouse path of this process, the JVM
    and the Python workers into ``work_dir``."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work_dir, "warehouse")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-java-options -Xms{DRIVER_MEM} pyspark-shell"


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for both and
    for every Python worker to exit."""
    from pyspark import SparkContext

    from spans import process_tree

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while len(process_tree(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.1)


def cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def tail_percentile(samples: list[float]) -> tuple[float, int] | None:
    """The highest whole percentile with at least ten samples above it, for
    a kind with at least 40 samples."""
    n = len(samples)
    if n < 40:
        return None
    pct = int(math.floor(100.0 * (n - 10) / n))
    return float(statistics.quantiles(samples, n=100, method="inclusive")[pct - 1]), pct


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "orc_spark")):
        print(f"no orc_spark package under {ROOT}: run from a source checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    with open("/proc/loadavg") as fh:
        print(f"# load1 at start: {fh.read().split()[0]}", flush=True)
    cpu0 = cpu_times()

    cores = pin_cpus()
    work_dir = os.path.join(ROOT, ".bench_run", f"{args.workload}-{os.getpid()}")
    isolate_run_dir(work_dir, cores)

    from spans import Tracer, peak_rss_by_process
    from workloads import WORKLOADS, Ctx, QueryMix

    tracer = Tracer(bool(args.trace))
    if tracer.enabled:
        patch_load_table(tracer)
    with tracer.span("session.get_spark") as s_span:
        from orc_spark import get_spark

        spark = get_spark("perfbench", cpus=cores)
    ctx = Ctx(spark, args.seed, work_dir, tracer)
    wl = WORKLOADS[args.workload]()
    attempted = failed = 0
    correct = True
    try:
        wl.setup(ctx)
        # untimed passes before the timed window: the first pays JVM class
        # loading, code generation and Python worker start
        for i in range(wl.WARMUP_PASSES):
            warm = wl.run_pass(ctx)
            attempted += len(warm)
            failed += sum(not o.ok for o in warm)
            print(f"# warm-up pass {i + 1}: " + " ".join(f"{o.kind}={o.seconds:.3f}" for o in warm), flush=True)
        ctx.timed = True
        t_open = time.perf_counter()
        setup_s = t_open - T_START
        passes, ops = [], []
        while True:
            t0 = time.perf_counter()
            with tracer.span("pass"):
                res = wl.run_pass(ctx)
            passes.append(time.perf_counter() - t0)
            ops += res
            if time.perf_counter() - t_open >= args.seconds:
                break
        ctx.timed = False
        print(f"# passes: {' '.join(f'{p:.3f}' for p in passes)}", flush=True)
        per_pass = len(ops) // len(passes)
        for i in range(len(passes)):
            print(f"# timed pass {i + 1}: "
                  + " ".join(f"{o.kind}={o.seconds:.3f}" for o in ops[i * per_pass:(i + 1) * per_pass]), flush=True)
        attempted += len(ops)
        failed += sum(not o.ok for o in ops)
        t_check = time.perf_counter()
        with tracer.span("check"):
            checks = wl.check(ctx)
        print(f"# setup {setup_s:.1f}s, window {t_check - t_open:.1f}s, "
              f"checks {time.perf_counter() - t_check:.1f}s", flush=True)
        for name, ok, detail in checks:
            attempted += 1
            if not ok:
                failed += 1
                correct = False
                print(f"# check {name} FAILED: {detail}", flush=True)
        rss = peak_rss_by_process(os.getpid())
        print("# peak rss MB: " + " ".join(f"{n}={v:.0f}" for n, v in rss), flush=True)
        peak = sum(v for _, v in rss)
    finally:
        stop_spark(spark)
        shutil.rmtree(work_dir, ignore_errors=True)

    by_kind: dict[str, list[float]] = {}
    for o in ops:
        if o.ok:
            by_kind.setdefault(o.kind, []).append(o.seconds)
    medians = {k: statistics.median(v) for k, v in by_kind.items()}
    op_p50 = math.exp(statistics.fmean(math.log(m) for m in medians.values())) if medians else float("nan")
    pass_s = statistics.median(passes)
    print(
        f"# {args.workload} seed={args.seed}: {len(passes)} passes, {len(ops)} ops; "
        f"kind medians: " + " ".join(f"{k}={v:.3f}" for k, v in medians.items()),
        flush=True,
    )
    # time the host took from this VM's CPUs (the 8th /proc/stat field):
    # a run with a high share competed with other tenants
    delta = [b - a for a, b in zip(cpu0, cpu_times())]
    print(f"# cpu steal during run: {100.0 * delta[7] / max(1, sum(delta)):.1f}%", flush=True)

    if args.trace:
        metrics = layer_metrics(ctx, tracer, s_span, ops, passes, cores, by_kind)
        names = per_layer_names(QueryMix.QUERIES)
        tracer.dump(os.path.join(ROOT, ".bench_run", "traces", f"{args.workload}-seed{args.seed}.json"))
    else:
        metrics = {"setup_s": setup_s, "pass_s": pass_s, "op_p50_s": op_p50, "peak_rss_mb": peak}
        names = END_TO_END
    out = {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics.get(k, 0.0)), "unit": u} for k, u in names.items()},
    }
    print(json.dumps(out), flush=True)
    return 0


def patch_load_table(tracer) -> None:
    """Wrap ``sources.tables.load_table`` in a span wherever the program
    bound it, so the time spent loading tables can be told apart."""
    from orc_spark.plans import registry
    from orc_spark.sources import tables

    registry()  # imports every plan module
    orig = tables.load_table

    def load_table(*a, **kw):
        with tracer.span("sources.tables.load_table"):
            return orig(*a, **kw)

    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith("orc_spark") and getattr(mod, "load_table", None) is orig:
            mod.load_table = load_table


def layer_metrics(ctx, tracer, s_span, ops, passes, cores, by_kind) -> dict[str, float]:
    med = statistics.median
    m: dict[str, float] = {"session.start_s": s_span.dur, "trace.pass_s": med(passes)}
    for name, vals in ctx.layer.items():
        if not name.startswith("build:"):
            m[name] = med(vals)
    n_pass = len(passes)
    t_open = next(s.start for s in tracer.spans if s.name == "pass")
    loads = tracer.durations("sources.tables.load_table", since=t_open)
    # load_table runs inside spark_fn: the build time includes it
    builds = [v for k, vs in ctx.layer.items() if k.startswith("build:") for v in vs]
    if builds:
        m["sources.tables.load_s"] = sum(loads) / n_pass
        m["plans.build_s"] = sum(builds) / n_pass
        m["plans.exec_s"] = (sum(o.seconds for o in ops) - sum(builds)) / n_pass
    counted = [o for o in ops if o.counters is not None]
    if counted:
        n = len(counted)
        m["plans.jobs_per_op"] = sum(o.counters.jobs for o in counted) / n
        m["plans.stages_per_op"] = sum(o.counters.stages for o in counted) / n
        m["plans.tasks_per_op"] = sum(o.counters.tasks for o in counted) / n
        m["plans.task_s_per_op"] = sum(o.counters.run_s for o in counted) / n
        m["plans.gc_s_per_op"] = sum(o.counters.gc_s for o in counted) / n
        m["plans.shuffle_mb_per_op"] = sum(o.counters.shuffle_bytes for o in counted) / n / 2**20
        wall = sum(o.seconds for o in counted)
        m["plans.core_util"] = sum(o.counters.run_s for o in counted) / (wall * cores)
    kind, samples = max(by_kind.items(), key=lambda kv: len(kv[1]))
    tail = tail_percentile(samples)
    if tail is not None:
        m["trace.op_tail_s"] = tail[0]
        m["trace.op_tail_n"] = len(samples)
        print(f"# tail: {kind} p{tail[1]} = {tail[0]:.3f}s over {len(samples)} samples", flush=True)
    return m


if __name__ == "__main__":
    sys.exit(main())
