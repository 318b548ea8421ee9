"""The benchmark's own rules.

Run from the repository root: python3 -m pytest perfbench/tests -q
The last test runs the benchmark twice (about a minute and a half).
"""

from __future__ import annotations

import filecmp
import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import check  # noqa: E402
import gen  # noqa: E402
import worker  # noqa: E402
from spans import Span, self_times, union_length  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_and_units():
    s = spec()
    names = [m["name"] for m in s["end_to_end"] + s["per_layer"]]
    names += [w["name"] for w in s["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    for m in s["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert UNIT.match(m["unit"]) and 0 < m["bound"] <= 0.25
    for m in s["per_layer"]:
        assert set(m) == {"name", "unit", "better"} and UNIT.match(m["unit"])
    assert {"name": "setup_s", "unit": "s", "better": "lower"}.items() <= next(
        m for m in s["end_to_end"] if m["name"] == "setup_s").items()
    assert set(s["workloads"][0]) == {"name", "why"}
    assert set(w["name"] for w in s["workloads"]) == set(worker.WORKLOADS)


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    gen.write(7, str(a))
    gen.write(7, str(b))
    gen.write(8, str(c))
    files = sorted(os.path.relpath(os.path.join(d, f), a)
                   for d, _, fs in os.walk(a) for f in fs)
    assert len(files) == 8
    match, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
    assert mismatch == [] and errors == []
    assert not filecmp.cmp(a / "etl.csv", c / "etl.csv", shallow=False)


def test_etl_parse_ratios_stay_out_of_the_fallback_band():
    t = gen.make_etl_csv(3)
    plain = re.compile(r"^[+-]?\d+(\.\d*)?$")
    price = t.column("price").to_pylist()
    ratio = sum(bool(plain.match(p)) for p in price) / len(price)
    assert not 0.65 <= ratio <= 0.75 and ratio > 0.7
    # each duplicate is an exact copy; okey is otherwise unique
    okeys = t.column("okey").to_pylist()
    rows = list(zip(*(t.column(c).to_pylist() for c in t.column_names)))
    assert len(set(okeys)) == len(set(rows)) == gen.N_ETL_ROWS < len(rows)


class _Clock:
    def __init__(self) -> None:
        self.t = 0.0

    def __call__(self) -> float:
        return self.t


def test_op_that_raises_counts_against_ok_share():
    clock = _Clock()

    def ok(tracer) -> None:
        clock.t += 1.0

    def boom(tracer) -> None:
        clock.t += 0.5
        raise ValueError("planted failure")

    def meter() -> dict:
        # the program burns 2 CPU seconds per wall second, its JIT 1 more
        return {"own": 3 * clock.t, "jit": {"1": clock.t},
                "steal": 0.0, "busy": 3 * clock.t, "total": 4 * clock.t}

    ops = [worker.Op("ok", 10, ok), worker.Op("boom", 10, boom)]
    loop = worker.run_passes(ops, 10.0, meter, clock=clock)
    n_passes = 1 + worker.WARMUP_PASSES + worker.WARM_PASSES
    assert len(loop["walls"]) == n_passes
    assert loop["attempted"] == 2 * n_passes and loop["failed"] == n_passes
    e2e = worker.end_to_end(1.0, loop, 20, 100.0)
    assert e2e["ok_share"] == 0.5
    assert e2e["cold_pass_cpu_s"] == 3.0
    assert e2e["rows_per_cpu_s"] == 20 / 3.0
    assert worker.wall_figures(loop, 20)["rows_per_s"] == 20 / 1.5


def test_self_times_sum_to_the_pass_wall():
    spans = [
        Span("pass", "bench", "pass", 0, None, 0.0, 10.0),
        Span("op", "bench", "op", 0, 0, 1.0, 9.0),
        Span("b", "queries.build", "build", 0, 1, 1.0, 4.0),
        Span("a", "queries.action", "action", 0, 1, 4.0, 8.5),
    ]
    selfs = self_times(spans)
    assert selfs == [2.0, 0.5, 3.0, 4.5]
    assert sum(selfs) == 10.0
    assert union_length([(0, 2), (1, 3), (5, 6)], 0.5, 5.5) == 3.0


def test_row_digest_ignores_row_and_column_order():
    a = check.rows_digest(["x", "y"], [(1, 2.5), (3, None)])
    b = check.rows_digest(["y", "x"], [(None, 3), (2.5, 1)])
    assert a == b and a[0] == 2
    assert a != check.rows_digest(["x", "y"], [(1, 2.5), (3, 0.0)])


def test_fails_without_result_when_the_program_is_missing(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("work", "__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "autoetl",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert p.returncode != 0 and p.stdout.strip() == ""


def _run(trace: int) -> tuple[dict, dict]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "autoetl",
         "--seed", "5", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=200)
    assert p.returncode == 0, p.stderr[-3000:]
    printed = json.loads(p.stdout.strip().splitlines()[-1])
    with open(os.path.join(BENCH, "work", "reports",
                           f"autoetl-s5-t{trace}.json")) as f:
        return printed, json.load(f)


@pytest.mark.skipif(not os.path.isdir(os.path.join(ROOT, "mini_etl_project_spark")),
                    reason="needs the program")
def test_traced_and_untraced_runs_report_the_same_end_to_end_names():
    s = spec()
    plain, plain_report = _run(0)
    traced, traced_report = _run(1)
    e2e = [m["name"] for m in s["end_to_end"]]
    assert list(plain["metrics"]) == e2e
    assert list(traced["metrics"]) == [m["name"] for m in s["per_layer"]]
    assert list(plain_report["end_to_end"]) == list(traced_report["end_to_end"]) == e2e
    for printed in (plain, traced):
        assert printed["correct"] is True and printed["failed"] == 0
        assert set(printed) == {"correct", "attempted", "failed", "metrics"}
