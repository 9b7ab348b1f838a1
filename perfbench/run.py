"""Benchmark of the minoan_athenaeum_spark engine.

Run from the repository root:

    python3 perfbench/run.py --workload sql_analytics --seed 1 --seconds 25 --trace 0

The run generates its tables from ``--seed`` (``datagen.py``, scale
factor ``SF``), starts one Spark session pinned to ``local[<nproc>]``
with a fresh warehouse, and drives one workload from a single-client
closed loop for ``--seconds`` seconds of operations. Every result is
checked against DuckDB after the measured phase. The last stdout line
is ``{"correct", "attempted", "failed", "metrics"}``; the line before it
is a report with the seed, environment, every metric by name and unit,
the raw per-operation samples and, with ``--trace 1``, the per-layer
span summary (total and self time per layer) and counters. Spans are
written to ``.perfbench-out/`` under the repository root.

Workloads (operations of class ``a`` / ``b``); a round has a fixed mix
of operation kinds, and the seed varies only order, keys and data:
  sql_analytics  small queries / registry reports. A round sends each of
                 6 query shapes 3 times through the reference dialect
                 (sql_strict + show) and once as its ANSI twin (sql +
                 collect), in groups of 4 with one ANSI query each, and
                 after every 3 groups one relational and one curation
                 registry query (spec.fn + collect).
  index_ingest   BM25 appends and compactions / serves. A round is 2
                 appends of seeded document batches, each followed by 3
                 serves, then a compaction and a serve.
The warm-up, part of set-up, runs one unchecked round of the same mix.

Operation latencies are host-normalised: the speed of a shared host
drifts by tens of percent within seconds (a fixed pure-Python loop took
0.27 to 0.48 s from one run to the next over ten seconds on a 4-vCPU
Xeon VM, with no steal time shown to the guest), so a fixed loop (``host_probe``) runs just
before every operation and after the last one, and each latency is
scaled by ``PROBE_REF_S`` over the mean of the two probes around it.
The probes run outside the timed calls. The raw figures are reported
beside the normalised ones.

End-to-end metrics (``--trace 0``):
  setup_s     process start to the first timed operation: imports, JVM
              and session start, registry load, catalog registration,
              workload preparation (the BM25 index build for
              index_ingest) and the warm-up pass. Data generation and
              DuckDB oracle time are excluded. Not normalised.
  ops_per_s   operations per second of one round of the mix, every
              operation at its kind's median normalised latency.
  op_p50_s    median normalised latency over all operations.
  class_a_s   summed median normalised latency of the class-a (class-b)
  class_b_s   operation kinds: what one operation of each kind costs.
The report adds op_tail_s (the highest percentile with at least ten
samples beyond it, with that percentile and the sample count), the raw
(``raw_``) twin of each latency metric, wall_ops_per_s (operations
completed per wall second), wall_s, fail_ratio, the set-up breakdown,
and every operation kind's median normalised and raw latency.

Per-layer metrics (``--trace 1``): session.start / registry.load /
catalog.register times of the set-up; the median over operation kinds
of the time in calls that build a DataFrame (``op.build_s``) and in calls
that run Spark jobs (``op.exec_s``); Spark jobs, stages and tasks per
operation and failed tasks (``SparkContext.statusTracker``
with one job group per operation); and the tracer's own bookkeeping
time. The report adds every span name's calls, total, self and median
time, sink.rows_out and, for index_ingest, the storage counters
(postings data files at each serve, bytes written per appended text
byte, index bytes per live text byte after each compaction).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import time
import traceback

PROCESS_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "minoan_athenaeum_spark"

SF = 0.01
# Nominal time of ``host_probe``: normalised latencies are seconds on a
# host where the probe takes this long.
PROBE_REF_S = 0.010
# A run must end within 180 s; stop cleanly well before that.
RUN_LIMIT_S = 170

def unit(metric: str) -> str:
    """Unit of an end-to-end or report metric; the rest are seconds."""
    if metric.endswith("ops_per_s"):
        return "1/s"
    return "ratio" if metric == "fail_ratio" else "s"


END_TO_END = ("setup_s", "ops_per_s", "op_p50_s", "class_a_s", "class_b_s")
PER_LAYER = (
    ("session.start_s", "s"),
    ("registry.load_s", "s"),
    ("catalog.register_s", "s"),
    ("op.build_s", "s"),
    ("op.exec_s", "s"),
    ("spark.jobs_per_op", "count"),
    ("spark.stages_per_op", "count"),
    ("spark.tasks_per_op", "count"),
    ("spark.failed_tasks", "count"),
    ("trace.overhead_s", "s"),
)


def tail(samples: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond it) at the highest percentile
    with at least ten samples beyond it (the maximum when there are
    fewer than eleven samples)."""
    s = sorted(samples)
    i = len(s) - 11 if len(s) >= 11 else len(s) - 1
    return s[i], 100.0 * (i + 1) / len(s), len(s) - 1 - i


def per_kind_median(records: list[dict], by_op: dict[int, float]) -> dict[str, float]:
    """Median of ``by_op`` values per operation kind."""
    groups: dict[str, list[float]] = {}
    for op_id, v in by_op.items():
        groups.setdefault(records[op_id]["op"], []).append(v)
    return {kind: statistics.median(vs) for kind, vs in groups.items()}


def class_sum(records: list[dict], kind_p50: dict[str, float], cls: str) -> float:
    """Summed median latency of the class's operation kinds: what one
    operation of each kind costs."""
    kinds = {r["op"] for r in records if r["class"] == cls}
    return sum(kind_p50[k] for k in kinds)


def round_rate(records: list[dict], kind_p50: dict[str, float]) -> float:
    """Operations per second of one round of the mix with every
    operation at its kind's median latency. Every round holds the same
    kinds, so the first (always complete) round gives the mix."""
    mix = [r["op"] for r in records if r["round"] == 0]
    return len(mix) / sum(kind_p50[k] for k in mix)


def latency_metrics(records: list[dict], key: str) -> tuple[dict[str, float], dict[str, float]]:
    """End-to-end latency metrics and per-kind medians of ``records[key]``."""
    latencies = [r[key] for r in records]
    kind_p50 = per_kind_median(records, dict(enumerate(latencies)))
    return {
        "ops_per_s": round_rate(records, kind_p50),
        "op_p50_s": statistics.median(latencies),
        "class_a_s": class_sum(records, kind_p50, "a"),
        "class_b_s": class_sum(records, kind_p50, "b"),
        "op_tail_s": tail(latencies)[0],
    }, kind_p50


def start_session(run_dir: str, cpus: int):
    from minoan_athenaeum_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    return get_spark(
        app_name="perfbench",
        cpus=cpus,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            # With -Xms equal to this, the heap is not resized mid-run.
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions": f"-Xms2g -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def stop_jvm(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM,
    also when stopping the session or the gateway fails."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        if spark is not None:
            spark.stop()
        if gateway is not None:
            gateway.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def host_probe(n: int = 100_000) -> float:
    """Seconds a fixed pure-Python loop takes: the host's current speed."""
    t = time.perf_counter()
    x = 0
    for i in range(n):
        x += i * i
    return time.perf_counter() - t


def _timeout(signum, frame):
    raise TimeoutError(f"run exceeded {RUN_LIMIT_S} s")


def run(args, run_dir: str, out_dir: str, workload_cls) -> dict:
    import datagen
    from spans import JobCounter, Tracer
    from workloads import Ctx

    cpus = len(os.sched_getaffinity(0))
    data_dir = os.path.join(run_dir, "data")
    excluded = 0.0  # data generation and oracle time

    t = time.perf_counter()
    counts = datagen.generate(data_dir, args.seed, SF)
    excluded += time.perf_counter() - t

    from minoan_athenaeum_spark.engine import Athenaeum
    from minoan_athenaeum_spark.registry import load_all

    tracer = Tracer(bool(args.trace))
    workload = workload_cls(data_dir, args.seed, counts)
    spark = None
    try:
        t0 = time.perf_counter()
        with tracer.span("session.start"):
            spark = start_session(run_dir, cpus)
        t1 = time.perf_counter()
        with tracer.span("registry.load"):
            specs = load_all()
        t2 = time.perf_counter()
        eng = Athenaeum(spark)
        with tracer.span("catalog.register"):
            eng.register_parquet_dir(data_dir)
        t3 = time.perf_counter()
        ctx = Ctx(spark, eng, specs, data_dir, tracer)
        workload.prepare(ctx)
        t4 = time.perf_counter()
        workload.load_oracles(ctx)
        excluded += time.perf_counter() - t4
        # Warm-up calls stay out of the trace: per-layer numbers describe
        # set-up and the measured phase only.
        tracer.enabled = False
        t = time.perf_counter()
        workload.warm_up(ctx)
        warmup_s = time.perf_counter() - t
        tracer.enabled = bool(args.trace)
        setup = {
            "session.start_s": t1 - t0,
            "registry.load_s": t2 - t1,
            "catalog.register_s": t3 - t2,
            "prepare_s": t4 - t3,
            "warmup_s": warmup_s,
        }

        sc = spark.sparkContext
        env = {
            "nproc": cpus,
            "sf": SF,
            "rows": counts,
            "pyspark": __import__("pyspark").__version__,
            "java": sc._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
        }
        jobs = JobCounter(sc, bool(args.trace))
        records: list[dict] = []
        probes: list[float] = []  # host_probe() before each operation and after the last
        results: list = []
        ops = []
        complete_rounds = 0
        t_start = time.perf_counter()
        setup_s = t_start - PROCESS_START - excluded
        deadline = t_start + args.seconds
        for rnd, round_ops in enumerate(workload.rounds(ctx)):
            if time.perf_counter() >= deadline and complete_rounds:
                break
            for op in round_ops:
                if time.perf_counter() >= deadline and complete_rounds:
                    break
                workload.before(op)
                probes.append(host_probe())
                op_id = len(records)
                tracer.op_id = op_id
                jobs.begin(op_id)
                error = None
                t0 = time.perf_counter()
                try:
                    result = op.run()
                except Exception:
                    result, error = None, traceback.format_exc()
                latency = time.perf_counter() - t0
                tracer.op_id = None
                if error is None:
                    workload.after(op)
                else:
                    print(f"perfbench: {op.kind} failed:\n{error}", file=sys.stderr)
                records.append({"op": op.kind, "class": op.cls, "round": rnd, "s": latency})
                results.append((result, error))
                ops.append(op)
            else:
                complete_rounds += 1
        wall_s = time.perf_counter() - t_start
        probes.append(host_probe())

        failed = 0
        for rec, op, (result, error) in zip(records, ops, results):
            if error is None:
                try:
                    problems = op.check(result)
                except Exception:
                    problems = [traceback.format_exc()]
                if problems:
                    error = "; ".join(problems)
                    print(f"perfbench: {op.kind} wrong result: {error}", file=sys.stderr)
            rec["ok"] = error is None
            failed += error is not None
        spark_totals = jobs.totals() if args.trace else None
    finally:
        workload.close()
        stop_jvm(spark)

    # The host's speed drifts by tens of percent within seconds, with no
    # steal time shown to the guest, so each latency is also taken in
    # host-normalised seconds: scaled by PROBE_REF_S over the mean of the
    # probes just before and just after the operation.
    for i, r in enumerate(records):
        r["probe_s"] = (probes[i] + probes[i + 1]) / 2
        r["norm_s"] = r["s"] * PROBE_REF_S / r["probe_s"]
    norm, kind_p50 = latency_metrics(records, "norm_s")
    raw, raw_kind_p50 = latency_metrics(records, "s")
    _, tail_pct, tail_beyond = tail([r["s"] for r in records])

    values = {
        "setup_s": setup_s,
        **norm,
        **{f"raw_{k}": v for k, v in raw.items()},
        "wall_ops_per_s": sum(r["ok"] for r in records) / wall_s,
        "wall_s": wall_s,
        "fail_ratio": failed / len(records),
    }

    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "seconds": args.seconds,
        "env": env,
        "metrics": {k: {"value": v, "unit": unit(k)} for k, v in values.items()},
        "kind_p50_s": kind_p50,
        "raw_kind_p50_s": raw_kind_p50,
        "tail": {"percentile": tail_pct, "samples": len(records), "beyond": tail_beyond},
        "setup": setup,
        "complete_rounds": complete_rounds,
        "samples": records,
    }
    if workload.counters:
        report["counters"] = workload.counters

    if args.trace:
        layers = tracer.layer_summary()
        build = per_kind_median(records, tracer.per_op_role("build"))
        execute = per_kind_median(records, tracer.per_op_role("exec"))
        n_ops = spark_totals["ops"]
        layer_values = {
            "session.start_s": setup["session.start_s"],
            "registry.load_s": setup["registry.load_s"],
            "catalog.register_s": setup["catalog.register_s"],
            "op.build_s": statistics.median(build.values()),
            "op.exec_s": statistics.median(execute.values()),
            "spark.jobs_per_op": spark_totals["jobs"] / n_ops,
            "spark.stages_per_op": spark_totals["stages"] / n_ops,
            "spark.tasks_per_op": spark_totals["tasks"] / n_ops,
            "spark.failed_tasks": spark_totals["failed_tasks"],
            "trace.overhead_s": tracer.overhead_s + jobs.overhead_s,
        }
        report["layers"] = layers
        report["spark"] = spark_totals
        # Rendered tables: header, underline, then one line per row.
        report["sink.rows_out"] = sum(r.count("\n") - 1 for r, _ in results if isinstance(r, str))
        spans_path = os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.json")
        tracer.write(spans_path)
        report["spans_file"] = os.path.relpath(spans_path, ROOT)
        metrics = {name: {"value": layer_values[name], "unit": u} for name, u in PER_LAYER}
        report["per_layer"] = metrics
    else:
        metrics = {name: {"value": values[name], "unit": unit(name)} for name in END_TO_END}

    return {
        "report": report,
        "result": {
            "correct": failed == 0,
            "attempted": len(records),
            "failed": failed,
            "metrics": metrics,
        },
    }


def main(argv: list[str] | None = None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package next to {os.path.relpath(HERE)}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    run_dir = os.path.join(ROOT, ".perfbench-run", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench-out")
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    # Keep every file the run and its JVM write inside the checkout.
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")

    signal.signal(signal.SIGALRM, _timeout)
    # On SIGTERM still stop the JVM and remove the run directory.
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    signal.alarm(RUN_LIMIT_S)
    try:
        out = run(args, run_dir, out_dir, WORKLOADS[args.workload])
    finally:
        signal.alarm(0)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(out["report"]))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
