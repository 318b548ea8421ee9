"""AutoETLPipeline's construction and session contract: the options the
benchmark passes, the degenerate-input repartition every transform takes,
and a cleaned-base cache that outlives its SparkContext."""

from __future__ import annotations

import importlib.util
import inspect
import os
import subprocess
import sys
import textwrap

import pytest

from mini_etl_project_spark.plans.pipeline import AutoETLPipeline

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _perfbench_etl_pipeline() -> dict:
    """``ETL_PIPELINE`` from perfbench/worker.py, the options the
    benchmark's ``autoetl`` workload constructs the pipeline with."""
    path = os.path.join(ROOT, "perfbench", "worker.py")
    spec = importlib.util.spec_from_file_location("perfbench_worker", path)
    mod = importlib.util.module_from_spec(spec)
    saved = list(sys.path)
    try:
        spec.loader.exec_module(mod)  # inserts perfbench/ into sys.path
    finally:
        sys.path[:] = saved
    return mod.ETL_PIPELINE


def test_constructor_takes_the_four_options():
    params = inspect.signature(AutoETLPipeline).parameters
    assert list(params) == [
        "compat", "exact_stats", "eager_summary", "profile_sample_mod"
    ]


def test_perfbench_etl_pipeline_options_construct():
    cfg = _perfbench_etl_pipeline()
    pipe = AutoETLPipeline(**cfg)
    for name, value in cfg.items():
        assert getattr(pipe, name) == value, name


def test_transform_widens_one_partition_input(spark):
    target = spark.sparkContext.defaultParallelism
    if target < 2:
        pytest.skip("needs a session with at least 2 cores")
    rows = [(str(i), f"{i % 7}.5", f"2020-01-0{1 + i % 9}") for i in range(300)]
    df = spark.createDataFrame(rows, "a string, b string, d string").coalesce(1)
    assert df.rdd.getNumPartitions() == 1
    pipe = AutoETLPipeline(eager_summary=False)
    out = pipe.transform(df)
    assert pipe._cached_base.rdd.getNumPartitions() == target
    assert out.count() == 300
    pipe.release()


_RESTART_SCRIPT = textwrap.dedent(
    """
    from mini_etl_project_spark.plans.pipeline import AutoETLPipeline
    from mini_etl_project_spark.session import get_spark

    def run(spark):
        rows = [(str(i), f"{i % 7}.5") for i in range(200)]
        df = spark.createDataFrame(rows, "a string, b string")
        pipe = AutoETLPipeline(eager_summary=False)
        n = pipe.transform(df).count()
        return pipe, n

    spark = get_spark("restart")
    first, n1 = run(spark)
    spark.stop()
    spark = get_spark("restart")
    second, n2 = run(spark)   # the slot holds a base of the stopped context
    first.release()           # ... and so does the first pipeline
    second.release()
    assert n1 == n2 == 200, (n1, n2)
    spark.stop()
    print("restart ok")
    """
)


def test_transform_and_release_survive_a_session_restart():
    """A cleaned base cached on a stopped SparkContext is dropped, not
    unpersisted: its block manager is gone. Runs in its own process and JVM
    so the shared session fixture is never stopped."""
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1024m")
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH")) if p
    )
    proc = subprocess.run(
        [sys.executable, "-c", _RESTART_SCRIPT],
        cwd=ROOT,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "restart ok" in proc.stdout
