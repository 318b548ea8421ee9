"""One measured run in a fresh Python process and a fresh JVM.

``run.py`` starts this process with the run pins in its environment and the
wall-clock time it started it (``--t0``), so ``setup_s`` counts interpreter
start, the package and registry import, ``get_spark`` and one trivial
action. The worker then runs passes of the workload's op mix in a closed
loop (one client; the next op starts when the previous one returns) for
``--seconds``, checks the outputs outside the timed window, and writes its
report as JSON to ``--report``.

Usage: python3 perfbench/worker.py --workload W --data DIR --work DIR
       --seed N --seconds S --trace 0|1 --t0 T --report FILE
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback
from collections.abc import Callable

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from spans import NullTracer, Tracer, jvm_counters, self_times, union_length  # noqa: E402

#: analytic_sql's ops and the tables each one scans (its input rows).
#: Spark caches generated classes in a Guava cache of 100 entries split
#: into 4 segments of 25, so a mix near 100 classes thrashes some seeds and
#: not others. These three ops generate about 52 classes (q05 35, q01 13,
#: q06 4), well inside; with q03 and q10 the mix made 82 and warm passes
#: recompiled 0 or 22 classes depending on the seed.
ANALYTIC_SQL = {
    "q05_region_revenue": ("customer", "orders", "lineitem", "supplier",
                           "nation", "region"),
    "q06_revenue_change": ("lineitem",),
    "q01_pricing_summary": ("lineitem",),
}

#: AutoETLPipeline as ``q_etl_pipeline`` configures it. The input is one
#: CSV file (a single partition), so the pipeline's own degenerate-input
#: repartition stays on (``assume_partitioned`` left at its default).
ETL_PIPELINE = {
    "compat": True,
    "eager_summary": False,
    "exact_stats": False,
    "profile_sample_mod": 20,
}

#: A run is one cold pass, WARMUP_PASSES passes that are not used (the JIT
#: is still compiling: program CPU per pass falls by a third over them),
#: then WARM_PASSES warm passes. The count is fixed so every run takes its
#: medians at the same point of the JIT's progress; a slow host does not
#: get fewer, earlier passes.
WARMUP_PASSES = 2
WARM_PASSES = 4
#: ...unless the passes overrun this many multiples of --seconds: a run
#: must end inside its share of the benchmark's time budget.
WINDOW_CAP = 1.6


class Op:
    """One op of a workload: ``run`` performs it, spanning each layer call."""

    def __init__(self, name: str, rows: int, run: Callable) -> None:
        self.name, self.rows, self.run = name, rows, run


def parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows


def analytic_sql_ops(spark, data_dir: str, work_dir: str) -> list[Op]:
    from mini_etl_project_spark.queries import QUERIES

    tables = os.path.join(data_dir, "tables")

    def make(name: str) -> Op:
        def run(tracer) -> None:
            with tracer.span(name, "queries.build", "build"):
                df = QUERIES[name](spark, tables)
            with tracer.span(name, "queries.action", "action"):
                df.write.format("noop").mode("overwrite").save()

        rows = sum(parquet_rows(os.path.join(tables, f"{t}.parquet"))
                   for t in ANALYTIC_SQL[name])
        return Op(name, rows, run)

    return [make(n) for n in ANALYTIC_SQL]


def autoetl_ops(spark, data_dir: str, work_dir: str) -> list[Op]:
    from mini_etl_project_spark.plans.pipeline import AutoETLPipeline
    from mini_etl_project_spark.sources.readers import extract
    from mini_etl_project_spark.sources.writers import load

    csv = os.path.join(data_dir, "etl.csv")
    out = os.path.join(work_dir, "etl_out.parquet")
    with open(csv) as f:
        rows = sum(1 for _ in f) - 1

    def run(tracer) -> None:
        with tracer.span("extract", "sources.extract", "build"):
            raw = extract(spark, csv)
        with tracer.span("transform", "plans.transform", "build"):
            cleaned = AutoETLPipeline(**ETL_PIPELINE).transform(raw)
        with tracer.span("load", "sources.load", "action"):
            load(cleaned, out)

    return [Op("run_etl", rows, run)]


WORKLOADS = {"autoetl": autoetl_ops, "analytic_sql": analytic_sql_ops}


def run_passes(ops: list[Op], seconds: float, meter: Callable[[], dict],
               tracer=None, clock: Callable[[], float] = time.perf_counter) -> dict:
    """Closed loop over the op mix for the fixed number of passes, or until
    ``seconds * WINDOW_CAP`` have passed. An op that raises is counted as
    failed and the loop goes on. ``meter`` (a CPU sample) is read between
    passes, outside their wall time."""
    tracer = tracer or NullTracer()
    walls: list[float] = []
    samples = [meter()]
    attempted = failed = 0
    start = clock()
    while True:
        pass_id = len(walls)
        tracer.begin_pass(pass_id)
        t = clock()
        with tracer.span(f"pass{pass_id}", "bench", "pass"):
            for op in ops:
                attempted += 1
                try:
                    with tracer.span(op.name, "bench", "op"):
                        op.run(tracer)
                except Exception:  # noqa: BLE001 - counted, run continues
                    failed += 1
                    traceback.print_exc(file=sys.stderr)
        walls.append(clock() - t)
        samples.append(meter())
        tracer.end_pass(walls[-1])
        if (len(walls) == 1 + WARMUP_PASSES + WARM_PASSES
                or clock() - start >= seconds * WINDOW_CAP):
            break
    return {"walls": walls, "attempted": attempted, "failed": failed,
            "samples": samples, "cpu": deltas(samples)}


def warm(per_pass: list[float]) -> list[float]:
    """Passes after the cold one and the warm-up; the last pass if the
    window cap left none."""
    return per_pass[1 + WARMUP_PASSES:] or per_pass[-1:]


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def end_to_end(setup_s: float, loop: dict, rows_per_pass: int,
               peak_rss_mb: float) -> dict[str, float]:
    attempted = loop["attempted"]
    # CPU seconds the program spent on each pass: every thread of the
    # Python driver and the JVM except the JIT compiler threads. Time the
    # hypervisor steals is not charged to threads, so this holds still when
    # the host's steal share moves; wall time does not.
    cpu = [d["program"] for d in loop["cpu"]]
    return {
        "setup_s": setup_s,
        "cold_pass_cpu_s": cpu[0],
        "rows_per_cpu_s": rows_per_pass / statistics.median(warm(cpu)),
        "peak_rss_mb": peak_rss_mb,
        "ok_share": (attempted - loop["failed"]) / attempted,
    }


def wall_figures(loop: dict, rows_per_pass: int) -> dict[str, float]:
    """The wall-clock counterparts, reported as diagnostics."""
    return {"cold_pass_s": loop["walls"][0],
            "rows_per_s": rows_per_pass / statistics.median(warm(loop["walls"]))}


def per_layer(tracer: Tracer, import_s: float, start_s: float,
              bytes_per_row: float) -> tuple[dict[str, float], dict]:
    """Per-warm-pass layer figures from the spans, plus the per-call
    breakdown (layer and op names) that goes only into the report."""
    spans = tracer.spans
    selfs = self_times(spans)
    warm_ids = set(warm(list(range(len(tracer.passes)))))
    per_pass: dict[int, dict[str, float]] = {i: {} for i in warm_ids}
    breakdown: dict[int, dict[str, float]] = {i: {} for i in warm_ids}

    def add(d: dict, key: str, v: float) -> None:
        d[key] = d.get(key, 0.0) + v

    for span, self_s in zip(spans, selfs):
        if span.pass_id not in warm_ids:
            continue
        m, b = per_pass[span.pass_id], breakdown[span.pass_id]
        add(b, f"self.{span.layer}_s", self_s)
        if span.role not in ("build", "action"):
            continue
        dur = span.end - span.start
        jobs = [(j["start"], j["end"]) for j in span.jobs]
        add(m, f"op.{span.role}_s", dur)
        add(b, f"{span.layer}_s", dur)
        add(b, f"op.{span.name}.{span.role}_s", dur)
        add(m, "trace.covered_s", dur)
        add(m, "engine.busy_s", union_length(jobs, span.start, span.end))
        if span.role == "build":
            add(m, "op.build_jobs", len(span.jobs))
            add(b, f"{span.layer}_jobs", len(span.jobs))
            add(m, "op.build_driver_s", dur - union_length(jobs, span.start, span.end))
            m["op.cache_mb"] = max(m.get("op.cache_mb", 0.0), span.cache_mb)
        for j in span.jobs:
            add(m, "engine.jobs", 1)
            for k in ("stages", "tasks", "executor_run_s", "shuffle_write_mb",
                      "spill_mb"):
                add(m, f"engine.{k}", j[k])
    for p in tracer.passes:
        if p["pass"] in warm_ids:
            m = per_pass[p["pass"]]
            m["engine.idle_s"] = p["wall_s"] - m.get("engine.busy_s", 0.0)
            m["trace.coverage"] = m.get("trace.covered_s", 0.0) / p["wall_s"]
            m["trace.overhead_s"] = p["overhead_s"]
            m["trace.pass_s"] = p["wall_s"]
            for k in ("jit_ms", "gc_ms"):
                m[f"jvm.{k}"] = p[k]
            m["engine.codegen_compiles"] = p["codegen_compiles"]

    def med(d: dict[int, dict[str, float]], key: str) -> float:
        return statistics.median(v.get(key, 0.0) for v in d.values())

    keys = sorted({k for v in per_pass.values() for k in v} - {
        "trace.covered_s", "engine.busy_s"})
    metrics = {k: med(per_pass, k) for k in keys}
    cold = tracer.passes[0]
    metrics.update({
        "session.import_s": import_s,
        "session.start_s": start_s,
        "sources.bytes_written_per_row": bytes_per_row,
        "engine.cold_codegen_compiles": cold["codegen_compiles"],
        "engine.cold_codegen_ms": cold["codegen_ms"],
    })
    bkeys = sorted({k for v in breakdown.values() for k in v})
    return metrics, {k: med(breakdown, k) for k in bkeys}


def output_bytes_per_row(work_dir: str) -> float:
    out = os.path.join(work_dir, "etl_out.parquet")
    if not os.path.isdir(out):
        return 0.0
    files = [os.path.join(out, f) for f in os.listdir(out) if f.endswith(".parquet")]
    rows = sum(parquet_rows(f) for f in files)
    return sum(os.path.getsize(f) for f in files) / rows if rows else 0.0


def run_checks(spark, workload: str, data_dir: str, work_dir: str) -> list[str]:
    import check

    con = check.duck(work_dir)
    tables = os.path.join(data_dir, "tables")
    if workload == "autoetl":
        checks = {"autoetl": lambda: check.check_etl_output(
            con, os.path.join(data_dir, "etl.csv"),
            os.path.join(work_dir, "etl_out.parquet"))}
    else:
        check.register_tables(con, tables)
        checks = {name: (lambda name=name: check.check_registry_op(
            con, spark, name, tables)) for name in ANALYTIC_SQL}
    problems: list[str] = []
    try:
        for name, run in checks.items():
            try:
                problem = run()
            except Exception as e:  # noqa: BLE001 - a failed check is a wrong output
                problem = f"{name}: check raised {e!r}"
            if problem:
                problems.append(problem)
    finally:
        con.close()
    return problems


def host_conditions(jvm_pid: int, counters: dict) -> dict:
    try:
        load = os.getloadavg()
    except OSError:
        load = None
    return {
        "nproc": os.cpu_count(),
        "spark_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "loadavg": load,
        "jvm_pid": jvm_pid,
        **{f"{k}_total": v for k, v in counters.items()},
    }


def _stat_cpu_s(path: str, tick: int) -> float:
    """utime + stime from a /proc stat file, in seconds."""
    with open(path) as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / tick


def cpu_sample(pids: list[int | str]) -> dict:
    """CPU seconds used so far by ``pids`` (all threads, including threads
    that have ended), by each JIT compiler thread of them, and the host's
    steal, busy and total CPU seconds from the first line of /proc/stat."""
    tick = os.sysconf("SC_CLK_TCK")
    own = sum(_stat_cpu_s(f"/proc/{pid}/stat", tick) for pid in pids)
    jit: dict[str, float] = {}
    for pid in pids:
        base = f"/proc/{pid}/task"
        for tid in os.listdir(base):
            try:
                with open(f"{base}/{tid}/comm") as f:
                    if "Compiler" not in f.read():
                        continue
                jit[tid] = _stat_cpu_s(f"{base}/{tid}/stat", tick)
            except OSError:  # the thread ended
                continue
    with open("/proc/stat") as f:
        # user nice system idle iowait irq softirq steal
        v = [int(x) / tick for x in f.readline().split()[1:9]]
    return {"own": own, "jit": jit, "steal": v[7],
            "busy": v[0] + v[1] + v[2] + v[5] + v[6], "total": sum(v)}


def cpu_delta(a: dict, b: dict) -> dict[str, float]:
    """CPU seconds between two samples. JIT compiler threads come and go
    (HotSpot adds and retires them with load): a thread new in ``b``
    counts in full, one gone from ``b`` loses only its last interval."""
    jit = sum(cpu - a["jit"].get(tid, 0.0) for tid, cpu in b["jit"].items())
    d = {k: b[k] - a[k] for k in ("own", "steal", "busy", "total")}
    d["jit"] = jit
    d["program"] = d["own"] - jit
    return d


def deltas(samples: list[dict]) -> list[dict[str, float]]:
    return [cpu_delta(a, b) for a, b in zip(samples, samples[1:])]


def interference(d: dict[str, float]) -> dict[str, float]:
    """Shares of host CPU time over ``d`` that the hypervisor stole and
    that processes other than the program's used."""
    total = d["total"] or 1.0
    return {"steal_pct": 100.0 * d["steal"] / total,
            "foreign_cpu_pct": 100.0 * (d["busy"] - d["own"]) / total}


def main() -> int:
    ap = argparse.ArgumentParser()
    for a in ("--workload", "--data", "--work", "--report"):
        ap.add_argument(a, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--t0", type=float, required=True)
    args = ap.parse_args()

    root = os.path.dirname(HERE)
    sys.path.insert(0, root)
    import mini_etl_project_spark.queries  # noqa: F401 - the registry import
    from mini_etl_project_spark.session import get_spark

    t_import = time.time()
    spark = get_spark("perfbench")
    spark.range(1).count()
    t_setup = time.time()

    sc = spark.sparkContext
    jvm_pid = sc._gateway.proc.pid
    ops = WORKLOADS[args.workload](spark, args.data, args.work)
    tracer = Tracer(spark) if args.trace else NullTracer()
    loop = run_passes(ops, args.seconds, lambda: cpu_sample(["self", jvm_pid]),
                      tracer)
    py_hwm, jvm_hwm = vm_hwm_mb("self"), vm_hwm_mb(jvm_pid)

    counters = jvm_counters(sc)
    problems = run_checks(spark, args.workload, args.data, args.work)

    rows_per_pass = sum(op.rows for op in ops)
    e2e = end_to_end(t_setup - args.t0, loop, rows_per_pass, py_hwm + jvm_hwm)
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "correct": not problems,
        "problems": problems,
        "attempted": loop["attempted"],
        "failed": loop["failed"],
        "rows_per_pass": rows_per_pass,
        "pass_walls_s": loop["walls"],
        "pass_cpu_s": loop["cpu"],
        "end_to_end": e2e,
        "wall": wall_figures(loop, rows_per_pass),
        "host": host_conditions(jvm_pid, counters),
    }
    window = cpu_delta(loop["samples"][0], loop["samples"][-1])
    report["host"].update(interference(window), python_hwm_mb=py_hwm,
                          jvm_hwm_mb=jvm_hwm)
    if args.trace:
        layers, breakdown = per_layer(
            tracer, t_import - args.t0, t_setup - t_import,
            output_bytes_per_row(args.work))
        report["per_layer"] = layers
        report["layers"] = breakdown
        report["spans"] = [vars(s) for s in tracer.spans]
        report["passes"] = tracer.passes
    with open(args.report, "w") as f:
        json.dump(report, f, indent=1)

    gateway = sc._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
