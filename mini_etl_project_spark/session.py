"""SparkSession factory tuned for both local testing and cluster scale.

Defaults follow the 100 TB posture from SURVEY.md §4.3: AQE on (runtime
join-strategy selection, skew splitting, partition coalescing), UTC session
timezone (oracle parity with DuckDB's UTC-naive timestamps), Arrow enabled
for any pandas interchange.

Local mode is controlled by env vars so the driver/bench can steer it:

- ``SPARK_GRAFT_CPUS``  — parallelism for ``local[N]`` (default ``*``)
- ``SPARK_GRAFT_SF_DIR`` — default data dir for convenience loaders
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

DEFAULT_SF_DIR = "/root/testdata/sf0.1"

#: Tables the test-data contract provides (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def get_spark(app_name: str = "mini_etl_project_spark", cpus: str | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    On a real cluster the ``master`` and memory settings come from
    spark-submit; everything set here is safe cluster-side too.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.partitions", "32")
        # Estimate injection (r13, guide §3.1/VERDICT r12 ask #4): with no
        # CBO stats, relation sizes come from FILE bytes, but broadcast
        # decisions are about IN-MEMORY size — measured on the fixture
        # tables the deserialized rows are 7.9-10.7x the parquet bytes
        # (lineitem 10.8 MB file -> 115 MB checkpointed). At factor 1.0
        # the planner broadcast the pruned FACT side of q03/q05/q10
        # (estimated ~8 MB, actually 115 MB built); at the measured
        # factor the dimensions (still well under threshold) broadcast
        # pre-AQE and the fact side goes sort-merge, which AQE upgrades
        # from runtime sizes where a broadcast is genuinely small.
        # Measured: q05 1.97->1.60 s (12/12 alternated pairs), q03 flat,
        # q10 +0.2 s (its pruned fact IS small; the honest estimate costs
        # one extra shuffle that AQE's local-read conversion bounds).
        .config("spark.sql.sources.fileCompressionFactor", "8.0")
        # The NANOS generation of events.parquet reads as raw int64 nanos
        # (load_table truncates them to micros). Set here, once, so no
        # load writes session conf and a schema the scan catalog records
        # never depends on which query ran first.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.warehouse.dir", "/tmp/mini_etl_warehouse")
        .config("spark.ui.enabled", "false")
    )
    if not os.environ.get("SPARK_GRAFT_ON_CLUSTER"):
        # Local mode = driver JVM hosts all executor threads, but Spark's
        # default heap is 1g — fine at sf0.1, OOM at sf1.0 on a 128 GiB
        # box. Size it explicitly (env-overridable; ignored on a real
        # cluster where spark-submit owns memory). Cap at ~half of
        # physical RAM so smaller hosts overcommit to the OS killer —
        # the JVM heap is not the only consumer (pyarrow, pandas, page
        # cache); half leaves room to spill gracefully instead.
        builder = builder.master(f"local[{cpus}]").config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_mem()),
        )
    spark = builder.getOrCreate()
    if (
        not os.environ.get("SPARK_GRAFT_ON_CLUSTER")
        and spark.sparkContext.getConf().get("spark.driver.memory", "1g")
        == "1g"
    ):
        # getOrCreate reused an already-started JVM; our memory config
        # silently no-ops there. Surface it instead of failing later.
        import warnings

        warnings.warn(
            "get_spark: existing SparkSession has a 1g driver heap; "
            "SPARK_GRAFT_DRIVER_MEM was ignored (JVM already started)",
            stacklevel=2,
        )
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _default_driver_mem() -> str:
    """min(32g, ~half of MemTotal), floor 2g — see heap comment above."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    total_gb = int(line.split()[1]) // (1 << 20)  # kB→GiB
                    return f"{max(2, min(32, total_gb // 2))}g"
    except OSError:
        pass
    return "4g"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one contract table as a lazy parquet scan (Q1: parquet source).

    Scans go through a per-session scan catalog (``_scan``). The first
    load of a parquet file reads its footer with pyarrow (metadata only),
    then infers its schema (Spark's footer-read job) — or, for a file with
    a TIMESTAMP(NANOS) column, takes the footer schema and runs no job —
    and probes its partition count (``_maybe_widen``) as a plain
    ``spark.read.parquet`` would, and records both — the ``StructType``
    and the widen decision — under the file's identity: this
    SparkContext's applicationId, the real path, device, inode, size and
    mtime_ns. Every later load of the same file in the session reads
    ``spark.read.schema(s).parquet(path)`` and repartitions only if the
    recorded decision says so: no Spark job and no scan planning at load
    time. The catalog holds metadata only, never rows. A rewritten file
    has a new identity and is inferred again; a path that is not a
    regular file (a directory of parts) bypasses the catalog.

    ``events.parquet``'s ``ts`` physical type has varied across testdata
    generations — parquet TIMESTAMP(NANOS) (which Spark's vectorized reader
    rejects; readable only as raw longs: ``get_spark`` sets
    ``nanosAsLong``, and on any session ``_scan`` reads such a file with
    its footer schema) and plain TIMESTAMP(MICROS) (read as
    TIMESTAMP_NTZ). Normalize either to a session-TZ TIMESTAMP so every
    downstream plan and oracle sees identical values: nanos truncate to
    micros with integer ``DIV`` (double division would lose precision
    above 2^53 ns — matches DuckDB's truncation), and NTZ micros cast 1:1
    under the pinned UTC session timezone.
    """
    raw = _scan(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if name != "events":
        return raw
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    ts_type = raw.schema["ts"].dataType
    if isinstance(ts_type, LongType):  # TIMESTAMP(NANOS) as raw nanos
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    if isinstance(ts_type, TimestampNTZType):  # TIMESTAMP(MICROS)
        return raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


#: The scan catalog: (applicationId, realpath, st_dev, st_ino, st_size,
#: st_mtime_ns) -> (inferred schema, widen decision). A new SparkContext
#: has a new applicationId, so nothing carries over between sessions.
_SCAN_CATALOG: dict[tuple, tuple[StructType, bool]] = {}


def _scan(spark: SparkSession, path: str) -> DataFrame:
    """``_maybe_widen(spark.read.parquet(path), path)``, with the schema
    and the widen decision taken from the scan catalog when this session
    already loaded the same file. On a miss, a file with a TIMESTAMP(NANOS)
    column is read with its footer schema (``_footer_schema``) instead of
    Spark's inference. A path that is not a regular file (a directory of
    parts, a missing path) bypasses the catalog and the footer read."""
    key = None
    if os.path.isfile(path):
        st = os.stat(path)
        key = (spark.sparkContext.applicationId, os.path.realpath(path),
               st.st_dev, st.st_ino, st.st_size, st.st_mtime_ns)
    hit = _SCAN_CATALOG.get(key)
    if hit is not None:
        schema, widen = hit
        df = spark.read.schema(schema).parquet(path)
        return df.repartition(spark.sparkContext.defaultParallelism) if widen else df
    footer = _footer_schema(path) if key is not None else None
    reader = spark.read if footer is None else spark.read.schema(footer)
    df = reader.parquet(path)
    out = _maybe_widen(df, path)
    if key is not None:
        _SCAN_CATALOG[key] = (df.schema, out is not df)
    return out


def _footer_schema(path: str) -> StructType | None:
    """For a file with a TIMESTAMP(NANOS) column, its schema read from the
    parquet footer (metadata only) with those columns as ``bigint`` raw
    nanos and every column nullable — the schema ``nanosAsLong`` inference
    gives; ``None`` for any other file. Reading with it skips Spark's inference job, which on a
    session without that conf fails in its task (PARQUET_TYPE_ILLEGAL)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    arrow = pq.read_schema(path)
    nanos = [pa.types.is_timestamp(f.type) and f.type.unit == "ns" for f in arrow]
    if not any(nanos):
        return None
    arrow = pa.schema([
        (f.with_type(pa.int64()) if n else f).with_nullable(True)
        for f, n in zip(arrow, nanos)
    ])
    return from_arrow_schema(arrow, prefer_timestamp_ntz=True)


def _maybe_widen(df: DataFrame, path: str) -> DataFrame:
    """A fact table written as a single parquet row group is read by one
    task (a row group is the minimum unit of work). When its scan also
    plans fewer splits than cores (see ``ensure_parallelism``) AND the
    file is big enough to matter, repartition to restore parallelism.
    Catalyst still pushes filters/pruning through the repartition to the
    scan, and the guard never fires on a properly-chunked (i.e., at-scale)
    layout. Tiny dimension files stay single-partition (they broadcast).

    The probe plans the scan (``df.rdd``), so ``_scan`` runs it once per
    file and session and records its decision — whether the returned
    frame is a repartition of ``df`` — in the scan catalog."""
    try:
        if os.path.getsize(path) < 4 << 20:
            return df
    except OSError:
        return df
    return ensure_parallelism(df)


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Repartition ONLY when the input's partitioning is degenerate.

    The guard counts the scan's PLANNED partitions — byte-range splits of
    the file — not its row groups. A single-row-group parquet file can
    still plan several splits, and every split but the one holding the
    row group's start reads nothing: sf0.1 ``lineitem`` (one row group)
    plans 2 splits at ``local[2]``, one of them empty, so it is not
    widened and one task reads the whole table. A scan that plans fewer
    splits than the context's ``defaultParallelism`` is repartitioned to
    it, so expression-heavy operators
    (regex profiling, shingling, vector math) do not run serially on
    small inputs. At scale this is a no-op: a 100 TB table scans as
    thousands of splits ≥ cores, so the guard never triggers and no
    shuffle is added. The repartition cost on the small
    side (where it does trigger) is bounded by the input being small.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def eager_checkpoint_sized(df: DataFrame) -> tuple[DataFrame, int]:
    """``localCheckpoint(eager=True)`` plus the ACTUAL stored size of the
    checkpointed blocks, read from the block manager's storage info (the
    delta of persisted-RDD bytes across the checkpoint). The size is the
    honest volume signal for sizing downstream shuffle width on bounded
    lanes (r13, guide §2.2): unlike the pre-checkpoint plan estimate it
    reflects the filters already applied, and unlike a count it costs no
    extra job. Returns (checkpointed_df, bytes); bytes is 0 if the
    storage info is unreadable (callers treat 0/tiny as width 1)."""
    sc = df.sparkSession.sparkContext
    try:
        before = {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}
    except Exception:
        before = None
    out = df.localCheckpoint(eager=True)
    if before is None:
        return out, 0
    try:
        return out, sum(
            i.memSize() + i.diskSize()
            for i in sc._jsc.sc().getRDDStorageInfo()
            if i.id() not in before
        )
    except Exception:
        return out, 0


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Read every contract table; plans stay lazy until an action runs."""
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all contract tables as temp views for the SQL surface."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
