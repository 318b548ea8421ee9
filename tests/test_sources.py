"""Source/sink dispatch tests (R1–R6, R20–R23)."""

from __future__ import annotations

import os
import sqlite3

import pytest

from mini_etl_project_spark.sources.readers import extract
from mini_etl_project_spark.sources.writers import load


@pytest.fixture()
def tiny(spark):
    return spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id bigint, name string"
    )


def test_csv_roundtrip(spark, tiny, tmp_path):
    p = str(tmp_path / "t.csv")
    load(tiny, p)
    back = extract(spark, p)
    assert back.columns == ["id", "name"]
    assert back.count() == 3
    assert dict(back.dtypes)["id"] == "string"  # all-string by design (R1)


def test_json_roundtrip_records_array(spark, tiny, tmp_path):
    p = str(tmp_path / "t.json")
    load(tiny, p)  # pandas records-array shape, like the reference
    back = extract(spark, p)
    assert back.count() == 3
    assert set(back.columns) == {"id", "name"}


def test_parquet_roundtrip(spark, tiny, tmp_path):
    p = str(tmp_path / "t.parquet")
    load(tiny, p)
    back = extract(spark, p)
    assert back.count() == 3
    assert dict(back.dtypes)["id"] == "bigint"  # typed, unlike CSV


def test_sqlite_sink(spark, tiny, tmp_path):
    conn = sqlite3.connect(str(tmp_path / "t.db"))
    load(tiny, db_connection=conn)
    rows = conn.execute("SELECT id, name FROM cleaned_data ORDER BY id").fetchall()
    assert rows == [(1, "a"), (2, "b"), (3, "c")]
    load(tiny, db_connection=conn)  # overwrite semantics (if_exists=replace)
    assert conn.execute("SELECT COUNT(*) FROM cleaned_data").fetchone()[0] == 3


def test_dict_and_pandas_sources(spark):
    import pandas as pd

    d = extract(spark, {"x": [1, 2], "y": ["u", "v"]})
    assert d.count() == 2
    p = extract(spark, pd.DataFrame({"x": [1.5]}))
    assert p.collect()[0]["x"] == 1.5


def test_unsupported_sources_raise(spark):
    with pytest.raises(ValueError, match="unsupported file format"):
        extract(spark, "nope.xml")
    with pytest.raises(ValueError, match="unsupported data source type"):
        extract(spark, 42)


def test_excel_gated_when_engine_missing(spark, tiny, tmp_path):
    try:
        import openpyxl  # noqa: F401

        have = True
    except ImportError:
        have = False
    p = str(tmp_path / "t.xlsx")
    if have:  # pragma: no cover - engine not in this container
        load(tiny, p)
        assert extract(spark, p).count() == 3
    else:
        with pytest.raises((ValueError, ImportError, ModuleNotFoundError)):
            load(tiny, p)


def test_python_datasource_pushdown_and_values(spark):
    """Custom Python DataSource (sources/pyds.py): filter pushdown narrows
    the generated range (reader-level) and the scan values are the
    documented pure functions of id (e2e)."""
    import hashlib

    from pyspark.sql import functions as F

    from mini_etl_project_spark.sources.pyds import (
        GreaterThanOrEqual,
        LessThan,
        SyntheticCorpusReader,
        register,
    )

    # Reader-level: pushFilters consumes id-range filters and partitions
    # cover exactly the narrowed range.
    r = SyntheticCorpusReader({"rows": "2000", "partitions": "4"})
    leftover = list(
        r.pushFilters(
            [GreaterThanOrEqual(("id",), 500), LessThan(("id",), 1500)]
        )
    )
    assert leftover == []  # both consumed
    parts = r.partitions()
    assert parts[0].start == 500 and parts[-1].end == 1500
    assert sum(p.end - p.start for p in parts) == 1000

    # End-to-end through Spark.
    register(spark)
    rows = (
        spark.read.format("synthetic_corpus")
        .option("rows", 100)
        .load()
        .filter(F.col("id") >= 95)
        .orderBy("id")
        .collect()
    )
    assert [x.id for x in rows] == [95, 96, 97, 98, 99]
    assert rows[0].doc == hashlib.md5(b"95").hexdigest()
    assert rows[0].score == (95 % 97) / 97.0


def test_snapshot_table_acid_semantics(spark, tmp_path):
    """sources/snapshots.py: atomic commits, snapshot isolation, time
    travel, optimistic-concurrency conflict, vacuum."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from mini_etl_project_spark.sources.snapshots import (
        CommitConflict,
        SnapshotTable,
    )

    t = SnapshotTable.create(str(tmp_path / "tbl"))
    df1 = spark.range(0, 100).withColumn("v", F.col("id") * 2)
    df2 = spark.range(100, 150).withColumn("v", F.col("id") * 2)

    assert t.append(df1) == 1
    snap_v1 = t.read(spark)  # pinned to v1's file list
    assert t.append(df2) == 2

    # Snapshot isolation: the v1 frame still sees 100 rows post-commit.
    assert snap_v1.count() == 100
    assert t.read(spark).count() == 150
    # Time travel.
    assert t.read(spark, version=1).count() == 100
    assert t.read(spark, version=2).count() == 150

    # Overwrite replaces the file set; old versions stay readable.
    assert t.overwrite(df2) == 3
    assert t.read(spark).count() == 50
    assert t.read(spark, version=2).count() == 150

    # Optimistic concurrency: a writer that staged against a stale base
    # collides on the exclusive manifest create and publishes nothing.
    files = t._stage(df1)
    stale_base = t.latest_version() - 1
    with _pytest.raises(CommitConflict):
        t._commit(files, df1.schema.json(), stale_base)
    assert t.latest_version() == 3
    assert t.read(spark).count() == 50

    # Vacuum: keeping only the latest version drops v<=2-only files (and
    # the conflicted writer's orphans); latest still reads fine.
    deleted = t.vacuum(keep_last=1)
    assert deleted  # something unreachable existed
    assert t.read(spark).count() == 50
    with _pytest.raises(Exception):
        t.read(spark, version=1).count()


def test_stream_to_snapshot_table_exactly_once(spark, sf_dir, tmp_path):
    """foreachBatch → SnapshotTable transactional append: a finished
    stream lands every row exactly once; re-running on the same
    checkpoint adds nothing; a replayed batch id is a no-op."""
    from mini_etl_project_spark.sources.snapshots import (
        SnapshotTable,
        stream_to_snapshot_table,
    )
    from mini_etl_project_spark.streaming.ops import events_stream

    t = SnapshotTable.create(str(tmp_path / "sink_tbl"))
    ckpt = str(tmp_path / "ckpt")
    stream = events_stream(spark, sf_dir).select("event_id", "ts", "event_type")

    stream_to_snapshot_table(stream, t, ckpt, app_id="e2e")
    n_expected = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert t.read(spark).count() == n_expected
    v_after = t.latest_version()

    # Restart on the same checkpoint: no new input → no new version.
    stream_to_snapshot_table(stream, t, ckpt, app_id="e2e")
    assert t.latest_version() == v_after
    assert t.read(spark).count() == n_expected

    # A replayed (stale) batch id commits nothing.
    some = t.read(spark).limit(5)
    assert t.append_txn(some, "e2e", batch_id=0) is None
    assert t.read(spark).count() == n_expected
    # A NEW batch id commits normally.
    assert t.append_txn(some, "e2e", batch_id=t.last_txn("e2e") + 1) is not None
    assert t.read(spark).count() == n_expected + 5


def test_snapshot_table_merge_rewrites_only_touched_files(spark, tmp_path):
    """merge(): matched keys updated, new keys inserted, and data files
    without any matched key carried into the new manifest BY NAME (file-
    pruned copy-on-write)."""
    from pyspark.sql import functions as F

    from mini_etl_project_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable.create(str(tmp_path / "m_tbl"))
    base = spark.range(0, 100).withColumn("v", F.lit("old")).repartition(10, "id")
    t.append(base)
    files_v1 = set(t._read_manifest(1)["files"])
    assert len(files_v1) == 10

    updates = spark.createDataFrame(
        [(3, "new"), (250, "new")], "id bigint, v string"
    )
    t.merge(spark, updates, ["id"])

    out = {r["id"]: r["v"] for r in t.read(spark).collect()}
    assert len(out) == 101  # 100 originals, id=3 updated in place, id=250 added
    assert out[3] == "new" and out[250] == "new" and out[4] == "old"

    files_v2 = set(t._read_manifest(2)["files"])
    carried = files_v1 & files_v2
    # id=3 lives in exactly one of the 10 hash-partitioned files; the
    # other 9 must be carried over untouched.
    assert len(carried) == 9
    # Time travel still sees the pre-merge state.
    assert {r["v"] for r in t.read(spark, version=1).collect()} == {"old"}


def test_snapshot_table_file_skipping(spark, tmp_path):
    """Manifest min/max stats prune provably-irrelevant files from the
    scan (data skipping): a narrow id range reads 1 of 10 range-
    partitioned files and still returns exactly the filtered rows."""
    from pyspark.sql import functions as F

    from mini_etl_project_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable.create(str(tmp_path / "skip_tbl"))
    df = (
        spark.range(0, 1000)
        .withColumn("v", F.col("id") % 7)
        .repartitionByRange(10, "id")
    )
    t.append(df, stats_cols=["id"])
    assert len(t._read_manifest(1)["files"]) == 10

    pruned = t.read(spark, where=("id", 150, 160))
    assert len(pruned.inputFiles()) < 10  # files skipped via manifest stats
    rows = pruned.filter(F.col("id").between(150, 160)).collect()
    assert sorted(r["id"] for r in rows) == list(range(150, 161))

    # Unpruned read still sees everything.
    assert t.read(spark).count() == 1000


def test_snapshot_table_schema_evolution(spark, tmp_path):
    """Additive schema evolution: an append with a new column evolves the
    table schema; files written before the column existed read back NULL
    for it, and a shape mismatch without merge_schema=True is an error."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from mini_etl_project_spark.sources.snapshots import (
        SchemaMismatch,
        SnapshotTable,
    )

    t = SnapshotTable.create(str(tmp_path / "evo_tbl"))
    t.append(spark.range(0, 10).withColumn("v", F.col("id") * 2))

    widened = (
        spark.range(10, 15)
        .withColumn("v", F.col("id") * 2)
        .withColumn("tag", F.lit("new"))
    )
    with _pytest.raises(SchemaMismatch):
        t.append(widened)
    t.append(widened, merge_schema=True)

    cur = t.read(spark)
    assert cur.columns == ["id", "v", "tag"]
    assert cur.count() == 15
    assert cur.filter(F.col("tag").isNull()).count() == 10  # pre-evolution files
    assert cur.filter(F.col("tag") == "new").count() == 5

    # Type change on an existing column is a rewrite, not an evolution.
    retyped = spark.range(15, 16).withColumn("v", F.lit("oops"))
    with _pytest.raises(SchemaMismatch):
        t.append(retyped, merge_schema=True)

    # Time travel predates the evolution: v1 keeps the narrow schema.
    assert t.read(spark, version=1).columns == ["id", "v"]


def test_snapshot_table_compaction(spark, tmp_path):
    """OPTIMIZE bin-packs small files into fewer large ones with zero
    logical change: same rows, fewer files, empty change feed, and old
    versions still time-travel to the pre-compaction layout."""
    from pyspark.sql import functions as F

    from mini_etl_project_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable.create(str(tmp_path / "opt_tbl"))
    # Trickle appends -> many tiny files (the streaming-sink pathology).
    for lo in range(0, 100, 10):
        t.append(
            spark.range(lo, lo + 10).withColumn("v", F.col("id") % 3).coalesce(2),
            stats_cols=["id"],
        )
    before = t._read_manifest(t.latest_version())["files"]
    assert len(before) >= 10

    v = t.compact(spark)
    m = t._read_manifest(v)
    assert m["op"] == "compact" and m["change_files"] == []
    assert len(m["files"]) < len(before)
    # Stats were recomputed for the packed files: skipping still works.
    assert len(t.read(spark, where=("id", 5, 6)).inputFiles()) <= len(m["files"])

    after = t.read(spark)
    assert after.count() == 100
    assert after.agg(F.sum("id")).collect()[0][0] == sum(range(100))
    # Pre-compaction version unchanged.
    assert t.read(spark, version=v - 1).count() == 100


def test_snapshot_table_change_feed(spark, tmp_path):
    """read_changes returns exactly the rows added/changed per commit:
    appends as inserts, merge upserts WITHOUT the copied-over survivors,
    compactions contribute nothing."""
    from pyspark.sql import functions as F

    from mini_etl_project_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable.create(str(tmp_path / "cdc_tbl"))
    t.append(spark.range(0, 100).withColumn("v", F.col("id") * 2))  # v1
    t.append(spark.range(100, 120).withColumn("v", F.col("id") * 2))  # v2
    ups = spark.range(50, 55).withColumn("v", F.lit(-1)).union(
        spark.range(200, 203).withColumn("v", F.lit(-1))
    )
    t.merge(spark, ups, key_cols=["id"])  # v3: 5 updates + 3 inserts
    t.compact(spark, small_threshold=1 << 30)  # v4: physical only

    feed = t.read_changes(spark, since_version=1)
    by_ver = {
        (r["_commit_version"], r["_change_type"]): r["cnt"]
        for r in feed.groupBy("_commit_version", "_change_type")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    assert by_ver == {(2, "insert"): 20, (3, "upsert"): 8}

    # The upsert payload is the changed rows themselves, not survivors.
    v3 = feed.filter(F.col("_commit_version") == 3)
    assert sorted(r["id"] for r in v3.collect()) == [50, 51, 52, 53, 54, 200, 201, 202]
    assert v3.filter(F.col("v") != -1).count() == 0

    # Tailing from latest yields an empty, correctly-typed frame.
    empty = t.read_changes(spark, since_version=t.latest_version())
    assert empty.count() == 0
    assert empty.columns == ["id", "v", "_commit_version", "_change_type"]


def test_snapshot_table_cdc_preimages_enable_ivm(spark, tmp_path):
    """Before-images: merge commits expose the REPLACED rows as
    upsert_preimage, so a consumer can maintain an aggregate incrementally
    (new = old + post − pre) and land exactly on the table's true state;
    vacuum keeps CDC artifacts of retained versions readable."""
    from pyspark.sql import functions as F

    from mini_etl_project_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable.create(str(tmp_path / "ivm_tbl"))
    t.append(spark.range(0, 100).withColumn("v", F.col("id").cast("double")))  # v1
    ups = spark.range(40, 50).withColumn("v", F.lit(1000.0)).union(
        spark.range(200, 205).withColumn("v", F.lit(7.0))
    )
    t.merge(spark, ups, key_cols=["id"])  # v2: 10 updates + 5 inserts

    feed = t.read_changes(spark, 1, include_preimages=True)
    pre = feed.filter(F.col("_change_type") == "upsert_preimage")
    post = feed.filter(F.col("_change_type") == "upsert")
    assert pre.count() == 10  # only the matched keys have before-images
    assert sorted(r["id"] for r in pre.collect()) == list(range(40, 50))
    assert {r["v"] for r in pre.collect()} == set(map(float, range(40, 50)))
    assert post.count() == 15

    # Incremental maintenance: v1 aggregate + (post − pre) == v2 aggregate.
    def agg(df):
        r = df.agg(F.count("*").alias("n"), F.sum("v").alias("s")).collect()[0]
        return r["n"], float(r["s"])

    n1, s1 = agg(t.read(spark, version=1))
    np_, sp = agg(post)
    nq, sq = agg(pre)
    n2, s2 = agg(t.read(spark))
    assert (n1 + np_ - nq, s1 + sp - sq) == (n2, s2)

    # Default feed shape is unchanged (no preimages unless asked).
    assert t.read_changes(spark, 1).filter(
        F.col("_change_type") == "upsert_preimage"
    ).count() == 0

    # Vacuum to latest-only keeps the retained version's CDC artifacts.
    t.vacuum(keep_last=1)
    assert t.read_changes(spark, 1, include_preimages=True).count() == 25


def test_orc_roundtrip_with_pushdown(spark, tmp_path):
    """R1+ ORC: columnar sibling of parquet — values roundtrip and filters
    reach the ORC scan (PushedFilters), same scale story as parquet."""
    from pyspark.sql import functions as F

    from mini_etl_project_spark.sources.readers import extract
    from mini_etl_project_spark.sources.writers import load

    path = str(tmp_path / "t.orc")
    df = spark.range(1000).selectExpr(
        "id", "CAST(id % 7 AS STRING) AS grp", "id * 1.5 AS v"
    )
    load(df, path)
    back = extract(spark, path)
    assert back.count() == 1000
    assert {tuple(r) for r in back.collect()} == {tuple(r) for r in df.collect()}
    filtered = back.filter(F.col("id") > 990)
    plan = filtered._jdf.queryExecution().toString()
    assert "PushedFilters" in plan and "GreaterThan(id,990" in plan
    assert filtered.count() == 9


def test_text_roundtrip(spark, tmp_path):
    """R1+ text source/sink: one string column per line."""
    from mini_etl_project_spark.sources.readers import extract
    from mini_etl_project_spark.sources.writers import load

    path = str(tmp_path / "t.txt")
    df = spark.range(50).selectExpr("CAST(id AS STRING) AS value")
    load(df, path)
    back = extract(spark, path)
    assert sorted(r["value"] for r in back.collect()) == sorted(
        str(i) for i in range(50)
    )


def test_parquet_schema_drift_merge(spark, tmp_path):
    """Schema evolution on read: two parquet batches with drifted schemas
    (added column, widened coverage) union under mergeSchema=true; the
    missing column backfills NULL. The everyday ETL drift case."""
    from pyspark.sql import functions as F

    root = str(tmp_path / "drift")
    spark.range(5).selectExpr("id", "id * 2 AS a").write.parquet(root + "/b1")
    spark.range(5, 10).selectExpr(
        "id", "id * 2 AS a", "CAST(id AS STRING) AS b"
    ).write.parquet(root + "/b2")
    merged = spark.read.option("mergeSchema", True).parquet(
        root + "/b1", root + "/b2"
    )
    assert set(merged.columns) == {"id", "a", "b"}
    assert merged.count() == 10
    assert merged.filter(F.col("b").isNull()).count() == 5
    assert merged.filter(F.col("b") == "7").count() == 1


def test_catalog_ddl_roundtrip(spark, tmp_path):
    """Catalog surface: saveAsTable → spark.catalog listing → INSERT INTO →
    CREATE VIEW → DROP. The managed-table lifecycle on the session
    catalog."""
    name = "t_cat_roundtrip"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    spark.sql(f"DROP VIEW IF EXISTS v_{name}")
    spark.range(3).selectExpr("id", "id * 10 AS v").write.mode(
        "overwrite"
    ).saveAsTable(name)
    try:
        assert any(t.name == name for t in spark.catalog.listTables())
        spark.sql(f"INSERT INTO {name} VALUES (100, 1000)")
        assert spark.table(name).count() == 4
        spark.sql(
            f"CREATE OR REPLACE VIEW v_{name} AS "
            f"SELECT SUM(v) AS s FROM {name}"
        )
        assert spark.table(f"v_{name}").collect()[0]["s"] == 1030
        cols = {c.name for c in spark.catalog.listColumns(name)}
        assert cols == {"id", "v"}
    finally:
        spark.sql(f"DROP VIEW IF EXISTS v_{name}")
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_csv_malformed_row_modes(spark, tmp_path):
    """The three ingestion postures for dirty CSV: PERMISSIVE captures the
    broken row in _corrupt_record (others parse), DROPMALFORMED silently
    drops it, FAILFAST raises.  At 100 TB the difference is whether one
    bad row quarantines, disappears, or kills the job."""
    import pytest as _pytest

    p = tmp_path / "dirty.csv"
    p.write_text("id,qty\n1,10\n2,not_a_number\n3,30\n")
    schema = "id int, qty int, _corrupt_record string"

    permissive = (
        spark.read.schema(schema)
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(str(p))
    )
    rows = {r["id"]: r for r in permissive.collect()}
    assert rows[1]["qty"] == 10 and rows[1]["_corrupt_record"] is None
    assert rows[3]["qty"] == 30
    corrupt = [r for r in rows.values() if r["_corrupt_record"] is not None]
    assert len(corrupt) == 1 and "not_a_number" in corrupt[0]["_corrupt_record"]

    dropped = (
        spark.read.schema("id int, qty int")
        .option("header", True)
        .option("mode", "DROPMALFORMED")
        .csv(str(p))
    )
    assert sorted(r["id"] for r in dropped.collect()) == [1, 3]

    failfast = (
        spark.read.schema("id int, qty int")
        .option("header", True)
        .option("mode", "FAILFAST")
        .csv(str(p))
    )
    with _pytest.raises(Exception) as exc:
        failfast.collect()
    assert "Malformed" in str(exc.value) or "FAILFAST" in str(exc.value)


# -- the per-session scan catalog behind load_table ------------------------


def _jobs_in_group(spark, group, fn):
    """Run ``fn`` under its own job group; return its result and the
    number of Spark jobs the group started."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_scan_catalog_warm_load_starts_no_job(spark, sf_dir):
    """A second load of each contract table reads the catalog's schema and
    widen decision: no Spark job at load time, and the same schema and
    partitioning as an uncached inferred read."""
    from mini_etl_project_spark.session import TABLES, _maybe_widen, _scan, load_table

    for name in TABLES:
        p = os.path.join(sf_dir, f"{name}.parquet")
        first = load_table(spark, sf_dir, name)
        second, jobs = _jobs_in_group(
            spark, f"scan_catalog.{name}", lambda: load_table(spark, sf_dir, name)
        )
        assert jobs == 0, name
        assert second.schema == first.schema, name
        warm, ref = _scan(spark, p), _maybe_widen(spark.read.parquet(p), p)
        assert warm.schema == ref.schema, name
        assert warm.rdd.getNumPartitions() == ref.rdd.getNumPartitions(), name


def test_scan_catalog_records_widen_decision(spark, tmp_path):
    """A single-row-group file above the 4 MiB guard widens on the first
    load (from 3 cores up); the warm load repeats the partitioning from the
    recorded decision without probing, and reads the same rows."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mini_etl_project_spark.session import _maybe_widen, load_table

    n = 600_000
    rng = np.random.default_rng(7)
    p = str(tmp_path / "lineitem.parquet")
    pq.write_table(
        pa.table({"k": np.arange(n), "v": rng.integers(0, 1 << 40, n)}),
        p,
        row_group_size=n,
    )
    assert 4 << 20 <= os.path.getsize(p) < 8 << 20
    plain = spark.read.parquet(p).rdd.getNumPartitions()
    ref = _maybe_widen(spark.read.parquet(p), p)
    # the file scans as 2 byte-range splits: too few from 3 cores up
    parallelism = spark.sparkContext.defaultParallelism
    assert ref.rdd.getNumPartitions() > plain or parallelism <= 2
    load_table(spark, str(tmp_path), "lineitem")
    warm, jobs = _jobs_in_group(
        spark,
        "scan_catalog.widen",
        lambda: load_table(spark, str(tmp_path), "lineitem"),
    )
    assert jobs == 0
    assert warm.rdd.getNumPartitions() == ref.rdd.getNumPartitions()
    assert warm.agg({"v": "sum"}).collect() == ref.agg({"v": "sum"}).collect()


def test_scan_catalog_misses_a_rewritten_file(spark, sf_dir, tmp_path):
    """A file rewritten in place (new size and mtime) is inferred again:
    the next load sees the added column and its values."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mini_etl_project_spark.session import load_table

    table = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
    p = str(tmp_path / "documents.parquet")
    pq.write_table(table, p)
    before = load_table(spark, str(tmp_path), "documents")
    load_table(spark, str(tmp_path), "documents")  # warm: from the catalog
    assert "extra" not in before.columns
    pq.write_table(
        table.append_column("extra", pa.array(range(table.num_rows), pa.int64())), p
    )
    after = load_table(spark, str(tmp_path), "documents")
    assert after.columns == before.columns + ["extra"]
    assert after.agg({"extra": "sum"}).collect()[0][0] == sum(range(table.num_rows))


def test_scan_catalog_bypasses_a_directory(spark, sf_dir, tmp_path):
    """A multi-file table (a directory of parts) is not a regular file: it
    bypasses the catalog and reads as a plain inferred scan."""
    import pyarrow.parquet as pq

    from mini_etl_project_spark.session import _SCAN_CATALOG, load_table

    table = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
    d = tmp_path / "documents.parquet"
    d.mkdir()
    half = table.num_rows // 2
    pq.write_table(table.slice(0, half), str(d / "part-0.parquet"))
    pq.write_table(table.slice(half), str(d / "part-1.parquet"))
    ref = load_table(spark, sf_dir, "documents")
    for _ in range(2):
        got = load_table(spark, str(tmp_path), "documents")
        assert got.schema == ref.schema
        assert sorted(got.collect()) == sorted(ref.collect())
    assert not any(os.path.realpath(str(d)) in key for key in _SCAN_CATALOG)


def test_load_table_writes_no_session_conf(spark, sf_dir, monkeypatch):
    """``nanosAsLong`` is set once at session build: loading every contract
    table writes no session conf, so how events loads never depends on
    which query ran first."""
    from pyspark.sql.conf import RuntimeConfig

    from mini_etl_project_spark.session import TABLES, load_table

    before = spark.conf.getAll
    assert before.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    writes = []
    monkeypatch.setattr(RuntimeConfig, "set", lambda self, k, v: writes.append(k))
    for name in TABLES:
        load_table(spark, sf_dir, name)
    assert writes == []
    assert spark.conf.getAll == before


def _nanos_events(sf_dir, out_dir) -> str:
    """Write ``sf_dir``'s events table to ``out_dir`` with ``ts`` as
    parquet TIMESTAMP(NANOS); return the file's path."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    i = table.schema.get_field_index("ts")
    table = table.set_column(i, "ts", table.column("ts").cast(pa.timestamp("ns")))
    path = os.path.join(str(out_dir), "events.parquet")
    pq.write_table(table, path, version="2.6")
    return path


def test_load_table_reads_nanos_events(spark, sf_dir, tmp_path):
    """The TIMESTAMP(NANOS) generation of events loads, cold and warm, to
    the same rows as the TIMESTAMP(MICROS) fixture."""
    from mini_etl_project_spark.session import load_table

    _nanos_events(sf_dir, tmp_path)
    ref = sorted(load_table(spark, sf_dir, "events").collect())
    for _ in range(2):
        got = load_table(spark, str(tmp_path), "events")
        assert dict(got.dtypes)["ts"] == "timestamp"
        assert sorted(got.collect()) == ref


def test_load_table_reads_nanos_events_on_plain_session(spark, tmp_path):
    """A TIMESTAMP(NANOS) events file loads on a session without
    ``nanosAsLong`` (Spark's inference raises PARQUET_TYPE_ILLEGAL there)
    and yields the same rows as the MICROS fixture."""
    import pyarrow.parquet as pq

    from mini_etl_project_spark.session import load_table

    src = "/root/testdata/sf0.001"
    _nanos_events(src, tmp_path)
    assert pq.read_schema(str(tmp_path / "events.parquet")).field("ts").type.unit == "ns"

    plain = spark.newSession()
    plain.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    assert plain.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "false"
    got = load_table(plain, str(tmp_path), "events")
    want = load_table(spark, src, "events")
    assert got.schema == want.schema
    assert sorted(got.collect()) == sorted(want.collect())
    # no session conf was written to make it work
    assert plain.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "false"


def test_nanos_events_load_runs_no_failed_job_on_plain_session(
    spark, sf_dir, tmp_path
):
    """On a session without ``nanosAsLong``, the first load of a
    TIMESTAMP(NANOS) file reads its footer schema and starts no Spark
    inference job, which would fail in its task there."""
    from mini_etl_project_spark.session import load_table

    _nanos_events(sf_dir, tmp_path)
    plain = spark.newSession()
    plain.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    group = f"nanos-plain-{tmp_path.name}"
    got, _ = _jobs_in_group(
        plain, group, lambda: load_table(plain, str(tmp_path), "events")
    )
    tracker = plain.sparkContext.statusTracker()
    statuses = [tracker.getJobInfo(j).status for j in tracker.getJobIdsForGroup(group)]
    assert "FAILED" not in statuses
    assert dict(got.dtypes)["ts"] == "timestamp"


def test_footer_schema_equals_spark_inference(spark, sf_dir, tmp_path):
    """On a ``get_spark`` session (``nanosAsLong`` set) the footer schema
    ``_scan`` reads a TIMESTAMP(NANOS) file with is the schema Spark's own
    inference gives it."""
    from mini_etl_project_spark.session import _footer_schema

    path = _nanos_events(sf_dir, tmp_path)
    assert _footer_schema(path) == spark.read.parquet(path).schema
