"""Round-12 optimization regression pins.

1. Concurrent conf-pinned streaming drains must never leak the pinned
   ``spark.sql.shuffle.partitions`` into the session (the round-12 live
   catch: the registry non-vacuity walk probes queries from 4 driver
   threads, and an unlocked save/restore interleaving left the session at
   the pinned value, breaking the AQE skew-join posture test downstream).
2. ``adaptive_stream_partitions`` follows input volume with floor/cap and
   honors the env override.
3. The minhash signature built twice over the same shingles, as two
   sibling aggregates of one plan (the ingest shape), analyzes and agrees.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_concurrent_pinned_drains_do_not_leak_conf(spark):
    from mini_etl_project_spark.streaming.ops import (
        adaptive_stream_partitions,
        drain_to_table,
        events_stream,
        tumbling_agg,
    )

    before = spark.conf.get("spark.sql.shuffle.partitions")

    def one(_: int) -> None:
        agg = tumbling_agg(events_stream(spark, SF))
        drain_to_table(
            agg, shuffle_partitions=adaptive_stream_partitions(SF)
        )

    with ThreadPoolExecutor(max_workers=4) as pool:
        list(pool.map(one, range(4)))
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_adaptive_stream_partitions_follows_volume(monkeypatch):
    from mini_etl_project_spark.streaming import ops

    # tiny fixture → floor of 1
    assert ops.adaptive_stream_partitions(SF) == 1
    # volume-proportional: 10 per-partition units of bytes → ~10, capped
    size = __import__("os").path.getsize(f"{SF}/events.parquet")
    assert ops.adaptive_stream_partitions(
        SF, per_partition_bytes=max(1, size // 10)
    ) in (10, 11)
    assert ops.adaptive_stream_partitions(SF, per_partition_bytes=1) == 4096
    # env override wins
    monkeypatch.setenv("SPARK_GRAFT_STREAM_STATE_PARTS", "7")
    assert ops.adaptive_stream_partitions(SF) == 7


def test_memoized_expressions_reused_and_correct(spark):
    # the same minhash aggregate expressions used in TWO sibling
    # aggregates of one plan (the ingest shape) must analyze and agree
    rows = [(1, "abcdefgh"), (2, "abcdefgh"), (3, "zzzzyyyy")]
    df = spark.createDataFrame(rows, "id int, text string")
    from mini_etl_project_spark.operators.dedup import (
        minhash_signatures,
        shingle_rows,
    )

    sh = shingle_rows(df, "id", "text", k=4)
    a = minhash_signatures(sh).withColumnRenamed("minhashes", "ma")
    b = minhash_signatures(sh).withColumnRenamed("minhashes", "mb")
    j = a.join(b, "id").select(
        "id", (F.col("ma") == F.col("mb")).alias("eq")
    )
    got = {r.id: r.eq for r in j.collect()}
    assert got == {1: True, 2: True, 3: True}
