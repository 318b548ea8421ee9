"""Benchmark entry point: one run of one workload.

Usage (from the repository root):
    python3 perfbench/run.py --workload autoetl --seed 1 --seconds 40 --trace 0

Generates the seed's inputs (once per seed, before the timed part), starts
``worker.py`` in a fresh Python process with the run pins below, waits for
it, and prints the metrics that ``BENCHMARK.json`` declares as the last line
of standard output: the end-to-end ones with ``--trace 0``, the per-layer
ones with ``--trace 1``. Host conditions and the per-call layer breakdown
go to standard error and to ``perfbench/work/reports/``. Everything the run
writes stays under ``perfbench/work/``. Exits non-zero without printing a
result if the program is missing, the worker fails, or an output is wrong.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
#: A run must end within this, inputs and checks included.
RUN_LIMIT_S = 175
#: Driver heap, pinned so peak RSS does not follow the host's RAM.
DRIVER_MEM = "1024m"


def spark_cpus() -> int:
    """Two cores fewer than the process may use: the spare cores take the
    JVM's JIT and GC threads and the Python driver."""
    return max(1, len(os.sched_getaffinity(0)) - 2)


def inputs(seed: int) -> str:
    """The seed's input directory, generated if absent (keyed by the
    generator's source too); other inputs are removed so the work directory
    stays small."""
    sys.path.insert(0, HERE)
    import gen

    with open(gen.__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    data_root = os.path.join(WORK, "data")
    data = os.path.join(data_root, f"s{seed}-{version}")
    if not os.path.exists(os.path.join(data, "complete")):
        shutil.rmtree(data_root, ignore_errors=True)
        gen.write(seed, data)
        open(os.path.join(data, "complete"), "w").close()
    return data


def worker_env(run_dir: str) -> dict[str, str]:
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env.update(
        SPARK_GRAFT_CPUS=str(spark_cpus()),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        TMPDIR=tmp,
        # No /tmp/hsperfdata files; JVM temp files stay in the run dir. A
        # fixed set of JIT compiler threads (HotSpot otherwise retires idle
        # ones), so the worker can subtract all JIT CPU from the program's.
        JAVA_TOOL_OPTIONS=(f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} "
                           "-XX:-UseDynamicNumberOfCompilerThreads"),
        PYTHONHASHSEED="0",
    )
    return env


def run_worker(args, data: str, deadline: float) -> dict:
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    reports = os.path.join(WORK, "reports")
    os.makedirs(reports, exist_ok=True)
    report = os.path.join(reports, f"{args.workload}-s{args.seed}-t{args.trace}.json")
    if os.path.exists(report):
        os.remove(report)
    env = worker_env(run_dir)
    t0 = time.time()
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--data", data, "--work", run_dir,
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--t0", repr(t0), "--report", report]
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        code = None
    finally:
        # the worker's session holds the JVM too; nothing may outlive the run
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        for _ in range(100):  # the JVM is not our child: poll its group
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                break
            time.sleep(0.1)
    if code != 0:
        raise RuntimeError(f"worker ended with {code}")
    with open(report) as f:
        return json.load(f)


def summary(rep: dict) -> str:
    lines = [f"{rep['workload']} seed={rep['seed']} trace={rep['trace']} "
             f"correct={rep['correct']} attempted={rep['attempted']} "
             f"failed={rep['failed']} rows/pass={rep['rows_per_pass']}",
             "host: " + json.dumps(rep["host"]),
             "pass walls (s): " + " ".join(f"{w:.3f}" for w in rep["pass_walls_s"])]
    lines += [f"  {k} = {v:.6g}" for k, v in rep["end_to_end"].items()]
    lines += [f"  wall {k} = {v:.6g}" for k, v in rep["wall"].items()]
    for k, v in rep.get("layers", {}).items():
        lines.append(f"  layer {k} = {v:.6g}")
    lines += [f"  problem: {p}" for p in rep["problems"]]
    return "\n".join(lines)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.time() + RUN_LIMIT_S

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    if not os.path.isdir(os.path.join(ROOT, "mini_etl_project_spark")):
        print("the mini_etl_project_spark package is missing", file=sys.stderr)
        return 2

    try:
        rep = run_worker(args, inputs(args.seed), deadline)
    except (RuntimeError, OSError, ValueError) as e:
        print(f"run failed: {e}", file=sys.stderr)
        return 1
    print(summary(rep), file=sys.stderr)

    declared = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = rep["per_layer"] if args.trace else rep["end_to_end"]
    missing = [m["name"] for m in declared if m["name"] not in values]
    if missing:
        print(f"metrics not measured: {missing}", file=sys.stderr)
        return 1
    print(json.dumps({
        "correct": rep["correct"],
        "attempted": rep["attempted"],
        "failed": rep["failed"],
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in declared},
    }))
    return 0 if rep["correct"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
