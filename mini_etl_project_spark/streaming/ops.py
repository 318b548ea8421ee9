"""Structured Streaming operators over the events table (Q29–Q34, X10).

The events parquet is replayed as a file stream (``readStream`` with an
explicit schema — streaming requires one), transformed with event-time
semantics (watermarks, tumbling/sliding windows, session windows,
streaming dedup), and drained synchronously into a memory sink with an
``availableNow`` trigger — which is exactly how a production job would
run against a growing directory, minus the sink.

Correctness: each streaming aggregation has a batch-SQL equivalent the
DuckDB oracle runs (queries/streaming_q.py); complete output mode makes
the drained memory table comparable (append mode would hold back windows
newer than the final watermark).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: events.parquet schema for the NANOS generation — ts is TIMESTAMP(NANOS)
#: stored as int64 (read as long + DIV-truncate to micros, same as the
#: batch loader).
EVENTS_RAW_SCHEMA = (
    "event_id bigint, ts bigint, user_id bigint, event_type string, "
    "value double, props string"
)


def _stage_tag(sf_dir: str) -> str:
    """Cache key for /tmp staging dirs: changes when the testdata file is
    regenerated (size/mtime), so a stale stage is never replayed against a
    fresh oracle."""
    import hashlib
    import os

    st = os.stat(os.path.join(sf_dir, "events.parquet"))
    return hashlib.md5(
        f"{sf_dir}:{st.st_size}:{st.st_mtime_ns}".encode()
    ).hexdigest()[:10]


def _stage_root(prefix: str, sf_dir: str) -> str:
    """Staging dir ``/tmp/{prefix}_{sf-hash}_{content-tag}`` for this
    fixture generation; prunes this fixture's dirs from PRIOR generations
    (testdata regenerates between rounds — without pruning, dead stage
    dirs full of dangling symlinks accumulate in /tmp forever). Dirs of
    OTHER sf_dirs have a different sf-hash and are left alone."""
    import glob
    import hashlib
    import os
    import shutil

    sfh = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    tag = _stage_tag(sf_dir)
    root = f"/tmp/{prefix}_{sfh}_{tag}"
    for old in glob.glob(f"/tmp/{prefix}_{sfh}_*"):
        if old != root:
            shutil.rmtree(old, ignore_errors=True)
    # Legacy pre-round-4 naming was {prefix}_{10-hex-tag} with no sf-hash;
    # those can never match the current scheme — sweep them once.
    import re

    for old in glob.glob(f"/tmp/{prefix}_*"):
        if re.fullmatch(rf"/tmp/{prefix}_[0-9a-f]{{10}}", old):
            shutil.rmtree(old, ignore_errors=True)
    return root


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q29: file-replay stream of the events table with proper event-time.

    FileStreamSource wants a directory (a growing drop-zone in production);
    the read-only single-file fixture is staged via symlink.

    Streaming requires an explicit schema, so the ``ts`` physical-type
    drift across testdata generations (TIMESTAMP(NANOS) vs
    TIMESTAMP(MICROS), see ``session.load_table``) must be resolved
    HERE: declaring ``bigint`` against a micros file silently reads the
    raw int64 micros and a later ns→us truncate would compress event time
    1000×. Inspect the parquet footer once and declare the right schema.
    """
    import os

    import pyarrow.parquet as pq

    events_path = os.path.join(sf_dir, "events.parquet")
    schema_file = events_path
    if os.path.isdir(events_path):
        schema_file = next(
            os.path.join(events_path, p)
            for p in sorted(os.listdir(events_path))
            if p.endswith(".parquet")
        )
    ts_type = str(pq.read_schema(schema_file).field("ts").type)
    stage = _stage_root("mini_etl_stream", sf_dir)
    os.makedirs(stage, exist_ok=True)
    if os.path.isdir(events_path):
        # Multi-file table (e.g. tools/make_scale_data.py output): stage
        # each part — FileStreamSource lists the drop-zone flat.
        for part in sorted(os.listdir(events_path)):
            if part.endswith(".parquet"):
                link = os.path.join(stage, part)
                if not os.path.exists(link):
                    os.symlink(os.path.join(events_path, part), link)
    else:
        link = os.path.join(stage, "events.parquet")
        if not os.path.exists(link):
            os.symlink(events_path, link)
    if ts_type.startswith("timestamp"):  # micros generation → NTZ column
        raw = (
            spark.readStream.schema(
                "event_id bigint, ts timestamp_ntz, user_id bigint, "
                "event_type string, value double, props string"
            )
            .format("parquet")
            .load(stage)
        )
        # 1:1 under the pinned UTC session timezone.
        return raw.withColumn("ts", F.col("ts").cast("timestamp"))
    # nanos generation → raw int64 nanos (``nanosAsLong``, set by
    # get_spark); integer-DIV truncate to micros.
    raw = (
        spark.readStream.schema(EVENTS_RAW_SCHEMA)
        .format("parquet")
        .load(stage)
    )
    return raw.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))


def late_split_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q30 tripwire source: the events table staged as THREE files —
    recent events (ts within 1 hour of the max), an empty bridge file,
    then the stale bulk — replayed one file per micro-batch.

    Batch 0 advances the watermark to ``max(ts) - 10 minutes``. Spark's
    late-event filter uses the watermark as of the START of the previous
    batch (lagged one batch since the 3.4 watermark-propagation rework,
    SPARK-42376) — hence the empty bridge batch: it burns the lag, so
    when the stale file arrives in batch 2 every row is > 50 minutes past
    the active late-event watermark and MUST be dropped. A correctness
    check on this stream fails if ``withWatermark`` is removed (the stale
    rows would then aggregate).
    """
    import datetime
    import os
    import shutil
    import time as _time

    stage = _stage_root("mini_etl_stream_late", sf_dir)
    ready = os.path.join(stage, "_READY")
    if not os.path.exists(ready):
        from mini_etl_project_spark.session import load_table

        os.makedirs(stage, exist_ok=True)
        ev = load_table(spark, sf_dir, "events")
        mx = ev.agg(F.max("ts").alias("m")).collect()[0]["m"]
        cutoff = mx - datetime.timedelta(hours=1)

        def write_one(df: DataFrame, name: str, mtime: float) -> None:
            tmp = os.path.join(stage, f"__tmp_{name}")
            df.coalesce(1).write.mode("overwrite").parquet(tmp)
            part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
            dst = os.path.join(stage, name)
            os.replace(os.path.join(tmp, part), dst)
            shutil.rmtree(tmp)
            os.utime(dst, (mtime, mtime))

        now = _time.time()
        # File order = modification time; recent slice replays first.
        write_one(ev.filter(F.col("ts") >= F.lit(cutoff)), "a_ontime.parquet", now - 180)
        write_one(ev.limit(0), "b_bridge.parquet", now - 120)
        write_one(ev.filter(F.col("ts") < F.lit(cutoff)), "c_stale.parquet", now - 60)
        open(ready, "w").close()
    return (
        spark.readStream.schema(
            "event_id bigint, ts timestamp, user_id bigint, event_type string, "
            "value double, props string"
        )
        .option("maxFilesPerTrigger", "1")
        .format("parquet")
        .load(stage)
    )


def adaptive_stream_partitions(
    sf_dir: str, per_partition_bytes: int = 512 << 10
) -> int | None:
    """Scale-adaptive state/shuffle partition count for a staged replay
    (r12 optimization, guide §2.2 "fewer, larger reduce partitions").

    Stateful exchanges can't be AQE-coalesced, so the state partition
    count must be chosen up front — and it should follow the DATA VOLUME,
    not a constant tuned to either the local core count or the cluster:
    each state partition pays a fixed per-batch cost (state store open,
    delta write, snapshot maintenance — measured ~60 ms each at sf0.1,
    where 32 constant partitions held ~3 k rows apiece and the single
    micro-batch spent 2.2 s of its 2.3 s on state bookkeeping; the
    measured sweep at sf0.1: 32→2.29 s, 8→1.07, 3-4→0.94, 1→1.42).
    One partition per ~512 KB of input puts the fixture family at that
    measured optimum and grows with volume into the thousands at 100 TB,
    capped at 4096 (a replay that size would be sized to steady-state
    throughput, not history). Env override:
    ``SPARK_GRAFT_STREAM_STATE_PARTS``. Returns None (leave the session
    default) when the input size is unknowable.
    """
    import os

    env = os.environ.get("SPARK_GRAFT_STREAM_STATE_PARTS")
    if env:
        # A malformed override must not take every streaming query down
        # with a ValueError — fall through to the computed path instead
        # (ADVICE r12).
        try:
            return max(1, int(env))
        except ValueError:
            pass
    size = input_bytes(os.path.join(sf_dir, "events.parquet"))
    if size is None:
        return None
    return partitions_for_bytes(size, per_partition_bytes)


def partitions_for_bytes(
    n_bytes: int, per_partition_bytes: int = 512 << 10
) -> int:
    """Volume-following partition width: one partition per
    ``per_partition_bytes`` of input, clamped to [1, 4096] (the same
    sizing rule as ``adaptive_stream_partitions`` — see its docstring
    for the measured fixed-cost rationale)."""
    import math

    return min(4096, max(1, math.ceil(n_bytes / per_partition_bytes)))


def input_bytes(path: str) -> int | None:
    """Total bytes under ``path`` (file or directory of parts),
    storage-agnostic: the local filesystem is tried first (the common
    dev path), then the Hadoop FileSystem of the active session — so at
    real scale (object storage, HDFS) the volume signal comes from the
    file index instead of silently degrading to the session default
    (VERDICT r12 ask #8). Returns None when the size is unknowable."""
    import os

    try:
        if os.path.isdir(path):
            return sum(
                os.path.getsize(os.path.join(path, p))
                for p in os.listdir(path)
                if p.endswith(".parquet")
            )
        return os.path.getsize(path)
    except OSError:
        pass
    spark = SparkSession.getActiveSession()
    if spark is None:
        return None
    try:
        jvm = spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
        return fs.getContentSummary(hpath).getLength()
    except Exception:
        return None


#: Serializes every conf-pinned drain: the pin mutates the SESSION-global
#: ``spark.sql.shuffle.partitions``, and two concurrent drains interleaving
#: their save/restore can persist the pinned value past both (observed live:
#: the registry non-vacuity walk probes queries from 4 threads, and an
#: unlocked pin leaked partitions=1 into the rest of the suite). The lock
#: makes save→start→drain→restore atomic; concurrent pinned drains simply
#: queue (each is a short bounded replay).
_PIN_LOCK = __import__("threading").Lock()


class pinned_shuffle_partitions:
    """Context manager: atomically pin ``spark.sql.shuffle.partitions``
    for the duration of a (streaming or bounded-batch) action and restore
    the session default after, serialized across threads via
    ``_PIN_LOCK``.

    Residual interference class (ADVICE r12, documented contract): the
    pin mutates the session-global conf, so a concurrent UNPINNED query
    planned on another driver thread during a pinned drain sees the
    pinned width. That changes only its partition count — never results
    (every query here is partitioning-independent by the exact-decimal
    design) — and the production posture is one driver thread per
    session. Conf-sensitive concurrent work should take this same lock
    (all pinned call sites do)."""

    def __init__(self, spark: SparkSession, n: int | None) -> None:
        self._spark, self._n = spark, n
        self._old: str | None = None

    def __enter__(self):
        if self._n is not None:
            _PIN_LOCK.acquire()
            try:
                self._old = self._spark.conf.get(
                    "spark.sql.shuffle.partitions"
                )
                self._spark.conf.set(
                    "spark.sql.shuffle.partitions", str(self._n)
                )
            except BaseException:
                # A failed conf get/set (e.g. stopped session) must not
                # leave the lock held forever (ADVICE r12).
                _PIN_LOCK.release()
                raise
        return self

    def __exit__(self, *exc) -> None:
        if self._n is not None:
            try:
                self._spark.conf.set(
                    "spark.sql.shuffle.partitions", self._old
                )
            finally:
                _PIN_LOCK.release()


def drain_to_table(
    stream_df: DataFrame,
    mode: str = "complete",
    shuffle_partitions: int | None = None,
) -> str:
    """Run a streaming frame to completion into a memory sink; returns the
    table name. availableNow = process-everything-then-stop.

    ``shuffle_partitions`` (usually ``adaptive_stream_partitions(sf_dir)``)
    pins the stateful-exchange width for THIS query: the conf is set just
    before ``start()`` (where the micro-batch planner reads it) and
    restored after the drain, so batch queries on the same session keep
    the session default. Results are partitioning-independent — the same
    keyed aggregation lands every key in exactly one partition either
    way — only the per-partition state-store fixed costs change. Pinned
    drains are serialized across driver threads (see ``_PIN_LOCK``).
    """
    name = f"stream_out_{uuid.uuid4().hex[:12]}"
    spark = stream_df.sparkSession
    with pinned_shuffle_partitions(spark, shuffle_partitions):
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return name


def tumbling_agg(stream: DataFrame, width: str = "1 hour") -> DataFrame:
    """Q30+Q31: watermarked tumbling-window aggregate per event type.

    NULL event time is excluded EXPLICITLY (r12 ts-NULL audit): the
    event-time window operator cannot place a NULL-time event (Spark
    drops it after watermarking), while a batch oracle would keep a
    NULL bucket — the filter makes the drop a declared contract, and
    every oracle over this op carries the matching ts IS NOT NULL.
    """
    return (
        stream.filter(F.col("ts").isNotNull())
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def session_agg(stream: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Q32/X10: session windows per user (gap-merged).

    NULL event time excluded explicitly — same contract as
    tumbling_agg (r12 ts-NULL audit).
    """
    return (
        stream.filter(F.col("ts").isNotNull())
        .withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("user_id"),
            F.col("w.start").alias("session_start"),
            "n_events",
        )
    )


def click_purchase_join(stream: DataFrame) -> DataFrame:
    """Stream-stream INNER join: purchases attributed to a same-user click
    within the preceding 30 minutes.

    Both sides are watermarked and the join condition carries the
    event-time range, so Spark bounds the join state (clicks older than
    watermark − 30 min are evicted) — the production-correct shape for an
    unbounded attribution join. Inner join only: outer stream-stream
    emission waits for the watermark to pass the time bound, so rows near
    the end of a bounded replay would be withheld and a batch oracle
    could not match.
    """
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", "10 minutes")
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        .withWatermark("purchase_ts", "10 minutes")
    )
    return clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")
        ),
        "inner",
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        (F.unix_micros("purchase_ts") - F.unix_micros("click_ts")).alias(
            "delay_us"
        ),
    )


def stream_dedup(stream: DataFrame) -> DataFrame:
    """Q33: streaming dedup on a business key within the watermark."""
    return stream.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )


def _type_count_transition(counts: dict, pdf) -> dict:
    """State transition shared by the stateful-V2 processor and its V1
    equivalence harness: fold one micro-batch's rows into the per-user
    ``{event_type: n}`` map. Keeping this a plain function is what lets
    the container pin V2's semantics (tests/test_round4.py) even though
    the TWS runtime itself is env-gated on protobuf: both engines run
    THIS code, only the state plumbing differs."""
    for et, n in pdf.groupby("event_type").size().items():
        counts[et] = counts.get(et, 0) + int(n)
    return counts


def stateful_type_counts_v1(stream: DataFrame) -> DataFrame:
    """The V2 ``stateful_type_counts_v2`` semantics through the V1
    ``applyInPandasWithState`` engine (which has no protobuf dependency):
    per-(user, event_type) running counts, state as parallel arrays —
    the composite-state shape V2's MapState gives for free. Cumulative
    per-batch emissions, so the max-reduce-drained oracle is identical."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id bigint, event_type string, n_events bigint"
    state_schema = "types array<string>, ns array<bigint>"

    def fn(key, pdfs, state: GroupState):
        if state.exists:
            types, ns = state.get
            counts = dict(zip(types, ns))
        else:
            counts = {}
        for pdf in pdfs:
            counts = _type_count_transition(counts, pdf)
        state.update((list(counts.keys()), list(counts.values())))
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(counts),
                "event_type": list(counts.keys()),
                "n_events": list(counts.values()),
            }
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def stateful_type_counts_v2(stream: DataFrame) -> DataFrame:
    """Q34, Spark 4 stateful V2: per-(user, event_type) running counts via
    ``transformWithStateInPandas`` with a MapState keyed by event type —
    the typed-composite-state API that ``applyInPandasWithState`` (v1,
    ``stateful_running_max``) lacks. Requires the RocksDB state store
    (local disk at any scale; changelog-checkpointed on a cluster).

    Emissions are CUMULATIVE per micro-batch, so max-reducing the drained
    update-mode output per (user, event_type) equals the batch GROUP BY —
    the same batching-invariant oracle pattern as v1."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class TypeCounts(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._counts = handle.getMapState(
                "counts", "event_type string", "n bigint"
            )

        def handleInputRows(self, key, rows, timer_values):
            counts = {k[0]: v[0] for k, v in self._counts.iterator()}
            for pdf in rows:
                counts = _type_count_transition(counts, pdf)
            for et, n in counts.items():
                self._counts.updateValue((et,), (n,))
            out = [
                {"user_id": key[0], "event_type": et, "n_events": n}
                for et, n in counts.items()
            ]
            yield pd.DataFrame(out)

        def close(self) -> None:
            pass

    spark = stream.sparkSession
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    return stream.groupBy("user_id").transformWithStateInPandas(
        TypeCounts(),
        "user_id bigint, event_type string, n_events bigint",
        outputMode="Update",
        timeMode="None",
    )


def stateful_running_max(stream: DataFrame) -> DataFrame:
    """Q34: arbitrary stateful op — per-user running max of ``value`` via
    applyInPandasWithState (GroupState survives across micro-batches)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id bigint, n_seen bigint, max_value double"
    state_schema = "n bigint, mx double"

    def fn(key, pdfs, state: GroupState):
        n, mx = (state.get if state.exists else (0, float("-inf")))
        for pdf in pdfs:
            n += len(pdf)
            if len(pdf):
                mx = max(mx, float(pdf["value"].max()))
        state.update((n, mx))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_seen": [n], "max_value": [mx]}
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def flush_split_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outer-join source: the events table staged as the full table plus
    two empty bridge files, replayed one file per micro-batch.

    Outer stream-stream joins emit a NULL-padded row only when the
    watermark PROVES no match can still arrive. The global watermark of a
    bounded replay freezes at min(max_click, max_purchase) − 10 min after
    the data batch (measured: even far-future sentinel rows in a later
    batch do not move it further before the drain stops), so the bridge
    batches exist to run the eviction with that final watermark (burning
    the SPARK-42376 one-batch lag). Clicks inside the last
    watermark + 30 min band stay correctly withheld — the oracle encodes
    the same contract.
    """
    import os
    import shutil
    import time as _time

    stage = _stage_root("mini_etl_stream_flush", sf_dir)
    ready = os.path.join(stage, "_READY")
    if not os.path.exists(ready):
        from mini_etl_project_spark.session import load_table

        os.makedirs(stage, exist_ok=True)
        ev = load_table(spark, sf_dir, "events")

        def write_one(df: DataFrame, name: str, mtime: float) -> None:
            tmp = os.path.join(stage, f"__tmp_{name}")
            df.coalesce(1).write.mode("overwrite").parquet(tmp)
            part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
            dst = os.path.join(stage, name)
            os.replace(os.path.join(tmp, part), dst)
            shutil.rmtree(tmp)
            os.utime(dst, (mtime, mtime))

        now = _time.time()
        write_one(ev.select(
            "event_id", "ts", "user_id", "event_type", "value", "props"
        ), "a_main.parquet", now - 180)
        write_one(ev.limit(0), "b_bridge.parquet", now - 120)
        write_one(ev.limit(0), "c_bridge2.parquet", now - 60)
        open(ready, "w").close()
    return (
        spark.readStream.schema(
            "event_id bigint, ts timestamp, user_id bigint, event_type string, "
            "value double, props string"
        )
        .option("maxFilesPerTrigger", "1")
        .format("parquet")
        .load(stage)
    )


def click_purchase_outer(stream: DataFrame) -> DataFrame:
    """Stream-stream LEFT OUTER attribution join: every click, matched to
    same-user purchases within 30 minutes after it, or NULL-padded once
    the watermark proves no purchase can still arrive. Same bounded state
    as the inner variant; requires a flush-staged source (see
    flush_split_stream) for the tail to emit."""
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", "10 minutes")
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        .withWatermark("purchase_ts", "10 minutes")
    )
    return (
        clicks.join(
            purchases,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("purchase_ts") >= F.col("click_ts"))
            & (
                F.col("purchase_ts")
                <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")
            ),
            "left_outer",
        )
        .select(
            F.col("c_user").alias("user_id"),
            "click_id",
            "purchase_id",
            (F.unix_micros("purchase_ts") - F.unix_micros("click_ts")).alias(
                "delay_us"
            ),
        )
    )


def click_purchase_full_outer(stream: DataFrame) -> DataFrame:
    """Stream-stream FULL OUTER attribution join — both sides NULL-pad on
    watermark-proven absence: clicks with no purchase in their +30 min
    window (evicted once wm > click_ts + 30 min, as in the LEFT OUTER
    variant) AND purchases with no click in their −30 min lookback
    (evicted once wm > purchase_ts — the latest matching click would
    carry click_ts = purchase_ts).  Same bounded state; same
    flush-staged source requirement."""
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", "10 minutes")
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        .withWatermark("purchase_ts", "10 minutes")
    )
    return (
        clicks.join(
            purchases,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("purchase_ts") >= F.col("click_ts"))
            & (
                F.col("purchase_ts")
                <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")
            ),
            "full_outer",
        )
        .select(
            F.coalesce(F.col("c_user"), F.col("p_user")).alias("user_id"),
            "click_id",
            "purchase_id",
            (F.unix_micros("purchase_ts") - F.unix_micros("click_ts")).alias(
                "delay_us"
            ),
        )
    )


def click_purchase_semi(stream: DataFrame) -> DataFrame:
    """Stream-stream LEFT SEMI join (X468): clicks that ARE followed by a
    same-user purchase within 30 minutes — streaming EXISTS. A semi join
    emits the left row once, on its first match, so a bounded replay
    behaves like the inner variant (no watermark-withheld tail, unlike
    outer); unmatched clicks are simply evicted with the state. Same
    bounded-state posture: both sides watermarked, event-time range in
    the condition."""
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", "10 minutes")
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "10 minutes")
    )
    return clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")
        ),
        "left_semi",
    ).select(F.col("c_user").alias("user_id"), "click_id")
