"""Round-13 optimization regression pins.

1. ``input_bytes`` (the streaming/batch volume signal) handles a
   directory-of-parts input, so a multi-file staged table never silently
   reverts the adaptive width to the session default (VERDICT r12 ask #8).
2. A malformed ``SPARK_GRAFT_STREAM_STATE_PARTS`` falls back to the
   computed width instead of crashing every streaming query (ADVICE r12).
3. ``pinned_shuffle_partitions`` releases its lock when the conf access
   fails in ``__enter__`` (ADVICE r12: a stuck lock deadlocks every later
   pinned drain).
4. ``eager_checkpoint_sized`` returns the materialized frame unchanged
   and a positive stored-byte figure (the honest width signal for the
   ingest lane's pinned shuffles).
5. AutoETL caches the NARROW cleaned base (one storage column per input
   column), not a wide raw+parse projection, whether or not the profile
   ran on a sample.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_input_bytes_directory_of_parts(tmp_path):
    from mini_etl_project_spark.streaming.ops import input_bytes

    d = tmp_path / "events.parquet"
    d.mkdir()
    (d / "part-0.parquet").write_bytes(b"x" * 1000)
    (d / "part-1.parquet").write_bytes(b"y" * 2000)
    (d / "_SUCCESS").write_bytes(b"")  # non-parquet ignored
    assert input_bytes(str(d)) == 3000
    f = tmp_path / "single.parquet"
    f.write_bytes(b"z" * 123)
    assert input_bytes(str(f)) == 123
    assert input_bytes(str(tmp_path / "missing.parquet")) is None


def test_adaptive_partitions_malformed_env(monkeypatch):
    from mini_etl_project_spark.streaming import ops

    monkeypatch.setenv("SPARK_GRAFT_STREAM_STATE_PARTS", "not-a-number")
    # falls back to the computed (volume) path, not ValueError
    assert ops.adaptive_stream_partitions(SF) == 1
    monkeypatch.setenv("SPARK_GRAFT_STREAM_STATE_PARTS", "9")
    assert ops.adaptive_stream_partitions(SF) == 9


def test_pin_releases_lock_on_enter_failure(spark):
    from mini_etl_project_spark.streaming import ops

    class Boom:
        @property
        def conf(self):
            raise RuntimeError("stopped session")

    try:
        with ops.pinned_shuffle_partitions(Boom(), 4):
            pass
    except RuntimeError:
        pass
    # the lock must be free again: a normal pin proceeds without deadlock
    acquired = ops._PIN_LOCK.acquire(timeout=5)
    assert acquired
    ops._PIN_LOCK.release()
    with ops.pinned_shuffle_partitions(spark, 4):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "4"


def test_eager_checkpoint_sized(spark):
    from mini_etl_project_spark.session import eager_checkpoint_sized

    df = spark.range(0, 10_000).select(
        "id", (F.col("id") * 2).alias("v")
    )
    out, nbytes = eager_checkpoint_sized(df)
    assert out.count() == 10_000
    assert sorted(r.v for r in out.limit(3).collect()) == [0, 2, 4]
    assert nbytes > 0


def test_sampled_profile_threshold_safety_band(spark):
    """A sampled parse ratio near the 0.7 type threshold must force the
    exact full-scan profile (ADVICE r12): type decisions stay
    sample-independent by construction."""
    from mini_etl_project_spark.plans.pipeline import AutoETLPipeline
    from mini_etl_project_spark.plans.profile import ColumnProfile

    mk = lambda d, n: ColumnProfile("c", 100, 10, 5.0, d, n)  # noqa: E731
    near = AutoETLPipeline._sample_ratio_near_threshold
    assert near({"c": mk(68, 0)})          # date ratio 0.68 — in band
    assert near({"c": mk(0, 73)})          # numeric ratio 0.73 — in band
    assert not near({"c": mk(100, 0)})     # clean 1.0 — out of band
    assert not near({"c": mk(0, 0)})       # 0.0 — out of band

    # end-to-end: exactly 70 % numeric strings. The full scan types the
    # column unknown (strict threshold), but its k=2 hash sample alone
    # would type it numeric — the band must make the pipeline decide on
    # the full scan.
    from mini_etl_project_spark.plans.profile import profile_frame_and_count

    rows = [(str(i) if i % 10 < 7 else f"x{i}",) for i in range(1000)]
    df = spark.createDataFrame(rows, "a string")
    full_type = profile_frame_and_count(df)[0]["a"].logical_type
    sample = df.filter(F.pmod(F.xxhash64(F.col("a")), F.lit(2)) == 0)
    sample_type = profile_frame_and_count(sample)[0]["a"].logical_type
    assert sample_type != full_type
    pipe = AutoETLPipeline(eager_summary=False, profile_sample_mod=2)
    out = pipe.transform(df)
    assert pipe.column_types == {"a": full_type}
    out.write.format("noop").mode("overwrite").save()
    pipe.release()


def test_pln_named_forms_match_column_forms(spark):
    from pyspark.sql import functions as F

    from mini_etl_project_spark.queries.helpers import (
        pln_finish,
        pln_k,
        pln_red,
    )

    df = spark.range(1, 2000).select(
        (F.col("id").cast("double") / 7.0).alias("v")
    )
    named = (
        df.withColumn("red", pln_red("v"))
        .withColumn("kk", pln_k("v"))
        .select(pln_finish("red", "kk").alias("lnv"))
    )
    col = (
        df.withColumn("red", pln_red(F.col("v")))
        .withColumn("kk", pln_k(F.col("v")))
        .select(pln_finish(F.col("red"), F.col("kk")).alias("lnv"))
    )
    assert [r.lnv for r in named.collect()] == [r.lnv for r in col.collect()]


def test_sampled_profile_caches_narrow_base(spark):
    from mini_etl_project_spark.plans.pipeline import AutoETLPipeline

    rows = [(str(i), f"{i % 7}.5", "2020-01-0" + str(1 + i % 9)) for i in range(400)]
    df = spark.createDataFrame(rows, "a string, b string, d string")
    # sampled (k=2) and full-row (None) profiles share one persist path
    for sample_mod in (2, None):
        pipe = AutoETLPipeline(eager_summary=False, profile_sample_mod=sample_mod)
        out = pipe.transform(df)
        cached = pipe._cached_base
        assert cached is not None
        # narrow: exactly the logical columns, no __pd__/__nc__ parse layers
        assert set(cached.columns) == {"a", "b", "d"}, sample_mod
        out.write.format("noop").mode("overwrite").save()
        pipe.release()
