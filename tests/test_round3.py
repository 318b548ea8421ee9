"""Round-3 additions: media-header parsing (X5 full), as-of NULL-payload
row semantics (Q8), exact-sign LSH reproducibility (X4), and the
timestamp-unit-adaptive loaders."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from mini_etl_project_spark.operators.asof import asof_join
from mini_etl_project_spark.operators.multimodal import (
    parse_media_meta,
    synth_media,
)

# Handcrafted spec-shaped headers (hex) — values chosen independently of
# synth_media's formulas so the parser can't pass by construction.
PNG_640x480 = (
    "89504E470D0A1A0A" + "0000000D" + "49484452"
    + "00000280"  # width 640
    + "000001E0"  # height 480
)
WAV_2CH_44100 = (
    "52494646" + "24000000" + "57415645" + "666D7420" + "10000000"
    + "0100"      # PCM
    + "0200"      # channels = 2 (LE)
    + "44AC0000"  # sample rate 44100 (LE)
)
# JPEG with THREE segments before SOF0 (APP0 16B, APP1 8B, COM 6B) —
# exercises the real segment walk, not a fixed offset.
JPEG_WALK_123x45 = (
    "FFD8"
    + "FFE0" + "0010" + "4A46494600" + "00" * 9   # APP0, len 16
    + "FFE1" + "0008" + "00" * 6                   # APP1, len 8
    + "FFFE" + "0006" + "00" * 4                   # COM, len 6
    + "FFC0" + "0011" + "08"
    + "002D"  # height 45
    + "007B"  # width 123
)
GARBAGE = "DEADBEEF00112233445566778899"


def test_media_header_parse_handcrafted(spark):
    df = spark.createDataFrame(
        [
            (1, bytes.fromhex(PNG_640x480)),
            (2, bytes.fromhex(WAV_2CH_44100)),
            (3, bytes.fromhex(JPEG_WALK_123x45)),
            (4, bytes.fromhex(GARBAGE)),
        ],
        "doc_id bigint, payload binary",
    )
    rows = {r["doc_id"]: r for r in parse_media_meta(df).collect()}
    assert rows[1]["media_kind"] == "png"
    assert (rows[1]["width"], rows[1]["height"]) == (640, 480)
    assert rows[1]["channels"] is None and rows[1]["sample_rate"] is None
    assert rows[2]["media_kind"] == "wav"
    assert (rows[2]["channels"], rows[2]["sample_rate"]) == (2, 44100)
    assert rows[2]["width"] is None and rows[2]["height"] is None
    assert rows[3]["media_kind"] == "jpeg"
    assert (rows[3]["width"], rows[3]["height"]) == (123, 45)
    assert rows[4]["media_kind"] is None
    assert all(
        rows[4][c] is None for c in ("width", "height", "channels", "sample_rate")
    )


def test_media_synth_roundtrip(spark):
    """synth → parse must recover exactly the planted formulas."""
    ids = spark.range(0, 60).select(F.col("id").alias("doc_id"))
    parsed = {r["doc_id"]: r for r in parse_media_meta(synth_media(ids)).collect()}
    for i in range(60):
        r = parsed[i]
        if i % 3 == 0:
            assert r["media_kind"] == "png"
            assert r["width"] == 16 + i % 2048
            assert r["height"] == 16 + (i * 7) % 1152
        elif i % 3 == 1:
            assert r["media_kind"] == "wav"
            assert r["channels"] == 1 + i % 2
            assert r["sample_rate"] == 8000 * (1 + i % 5)
        else:
            assert r["media_kind"] == "jpeg"
            assert r["width"] == 8 + (i * 3) % 4096
            assert r["height"] == 8 + (i * 5) % 2160


def test_asof_null_payload_is_row_level(spark):
    """A matched right row must contribute its OWN NULL payload values —
    not inherit a column from an older right row (ADVICE round 2)."""
    left = spark.createDataFrame(
        [(1, 10, "L10"), (1, 20, "L20")], "k bigint, lts bigint, lval string"
    )
    # Right rows: t=5 has full payload; t=15 has NULL in one column only.
    right = spark.createDataFrame(
        [(1, 5, "A", 100.0), (1, 15, None, 200.0)],
        "k bigint, rts bigint, tag string, score double",
    )
    out = {
        r["lts"]: r
        for r in asof_join(
            left, right, on="k", left_ts="lts", right_ts="rts"
        ).collect()
    }
    # lts=10 matches t=5: full payload.
    assert (out[10]["tag"], out[10]["score"]) == ("A", 100.0)
    # lts=20 matches t=15: tag must be NULL (the matched row's own NULL),
    # score from the SAME row — never tag="A" stitched from t=5.
    assert out[20]["tag"] is None
    assert out[20]["score"] == 200.0


def test_asof_no_match_vs_null_payload(spark):
    """Unmatched left rows get all-NULL payload; a match with NULL payload
    is distinguishable via its non-null sibling columns."""
    left = spark.createDataFrame([(1, 1), (2, 50)], "k bigint, lts bigint")
    right = spark.createDataFrame(
        [(2, 40, None, 7.0)], "k bigint, rts bigint, tag string, score double"
    )
    out = {
        r["k"]: r
        for r in asof_join(
            left, right, on="k", left_ts="lts", right_ts="rts"
        ).collect()
    }
    assert out[1]["tag"] is None and out[1]["score"] is None  # no match
    assert out[2]["tag"] is None and out[2]["score"] == 7.0  # matched row


def test_lsh_exact_sign_buckets_partitioning_invariant(spark):
    """LSH bucketing (exact-decimal sign) must not depend on partition
    layout."""
    from mini_etl_project_spark.operators.similarity import RandomHyperplaneLSH
    from mini_etl_project_spark.session import load_table

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings").limit(50)
    lsh = RandomHyperplaneLSH(dim=64, bits=3, tables=2)
    a = lsh.add_buckets(
        e.repartition(1).select(F.col("vec_id").alias("id"), F.col("embedding").alias("v")), "v"
    )
    b = lsh.add_buckets(
        e.repartition(13).select(F.col("vec_id").alias("id"), F.col("embedding").alias("v")), "v"
    )
    ra = {(r["id"], r["table"]): r["bucket"] for r in a.collect()}
    rb = {(r["id"], r["table"]): r["bucket"] for r in b.collect()}
    assert ra == rb


def test_quantize_int8_bounds_and_roundtrip(spark):
    """qvec ∈ [-127, 127]; dequantization error ≤ scale/2 per element."""
    from mini_etl_project_spark.queries.llm_q import quantize_int8
    from mini_etl_project_spark.session import load_table

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings").limit(100)
    orig = {r["vec_id"]: r["embedding"] for r in e.collect()}
    for r in quantize_int8(e).collect():
        s, q = r["scale"], r["qvec"]
        assert all(-127 <= v <= 127 for v in q)
        for x, qv in zip(orig[r["vec_id"]], q):
            assert abs(qv * s - float(x)) <= s / 2 + 1e-12


def test_pack_sequences_invariants(spark):
    """Offsets stay inside the budget; bins fill contiguously per shard;
    token mass is conserved."""
    from mini_etl_project_spark.queries.llm_q import pack_sequences
    from mini_etl_project_spark.session import load_table

    budget = 512
    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    packed = pack_sequences(d, "source", "doc_id", "text", budget=budget)
    rows = packed.orderBy("source", "doc_id").collect()
    assert all(0 <= r["bin_offset"] < budget for r in rows)
    by_src: dict = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r)
    for src, docs in by_src.items():
        # cumulative reconstruction: each doc starts where the previous ended
        cum = 0
        for r in docs:
            assert r["bin_id"] * budget + r["bin_offset"] == cum
            cum += r["n_tokens"]


def test_repetition_fraction_range(spark):
    from mini_etl_project_spark.queries.llm_q import q_text_repetition

    rows = q_text_repetition(spark, "/root/testdata/sf0.001").collect()
    for r in rows:
        f = r["dup_bigram_frac"]
        if f is not None:
            assert 0.0 <= f <= 1.0
            assert r["flagged"] == (1 if f > 0.1 else 0)
    # the synthetic docs repeat heavily — the signal must actually fire
    assert any(r["flagged"] == 1 for r in rows)


def _asof_vs_pandas(spark, direction, left_rows, right_rows):
    import pandas as pd

    lpdf = pd.DataFrame(left_rows, columns=["k", "lts"]).astype("int64")
    rpdf = pd.DataFrame(
        right_rows, columns=["k", "rts", "tag", "score"]
    ).astype({"k": "int64", "rts": "int64", "score": "float64"})
    expected = pd.merge_asof(
        lpdf.sort_values(["lts", "k"], kind="mergesort"),
        rpdf.sort_values(["rts", "k"], kind="mergesort"),
        left_on="lts",
        right_on="rts",
        by="k",
        direction=direction,
    )
    left = spark.createDataFrame(lpdf)
    right = spark.createDataFrame(rpdf)
    got = asof_join(
        left, right, on="k", left_ts="lts", right_ts="rts", direction=direction
    ).toPandas()
    key = ["k", "lts"]
    expected = expected.sort_values(key, kind="mergesort").reset_index(drop=True)
    got = got.sort_values(key, kind="mergesort").reset_index(drop=True)
    for col in ("tag", "score", "rts"):
        e = expected[col].tolist()
        g = got[col].tolist()
        for ev, gv in zip(e, g):
            e_null = ev is None or (isinstance(ev, float) and ev != ev)
            g_null = gv is None or (isinstance(gv, float) and gv != gv)
            assert e_null == g_null and (e_null or ev == gv), (
                direction, col, expected, got
            )


def test_asof_property_vs_pandas_merge_asof(spark):
    """Randomized check of backward/forward as-of against pandas
    merge_asof (an independent implementation), including NULL payloads.
    Right timestamps are unique per key — equal-ts right rows are
    tie-nondeterministic in both engines."""
    import random

    rng = random.Random(42)
    for trial in range(6):
        n_keys = rng.randint(1, 3)
        left_rows = [
            (rng.randrange(n_keys), rng.randrange(100))
            for _ in range(rng.randint(1, 25))
        ]
        right_rows = []
        used = set()
        for _ in range(rng.randint(1, 25)):
            k, t = rng.randrange(n_keys), rng.randrange(100)
            if (k, t) in used:
                continue
            used.add((k, t))
            tag = None if rng.random() < 0.3 else f"t{t}"
            right_rows.append((k, t, tag, float(rng.randrange(1000))))
        for direction in ("backward", "forward"):
            _asof_vs_pandas(spark, direction, left_rows, right_rows)


def test_new_ops_plan_shapes(spark):
    """Scale posture of the round-3 operators: packing shuffles once on
    the shard key; repetition/quantize/scrub are shuffle-free projections."""
    from mini_etl_project_spark.queries.llm_q import (
        pack_sequences,
        q_embed_quantize,
        q_text_pii_scrub,
        q_text_repetition,
    )
    from mini_etl_project_spark.session import load_table

    sf = "/root/testdata/sf0.001"
    d = load_table(spark, sf, "documents")

    plan = pack_sequences(d, "source", "doc_id", "text")._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 2  # shard hash-partitioning (+input widen)
    assert "Window" in plan

    for q in (q_text_repetition, q_embed_quantize, q_text_pii_scrub):
        plan = q(spark, sf)._jdf.queryExecution().executedPlan().toString()
        # repartition of degenerate single-split input is allowed; no
        # aggregation/join shuffles
        assert "SortMergeJoin" not in plan and "Aggregate" not in plan


def test_unpartitioned_windows_sit_on_aggregates(spark):
    """The three unpartitioned (single-partition) windows in the registry
    are safe ONLY because they consume post-aggregate inputs of bounded
    cardinality. Assert the plan shape so the pattern can't silently
    migrate onto raw rows: every global WindowExec must sit above an
    aggregation."""
    from mini_etl_project_spark.queries.iterative_q import q_ts_gapfill
    from mini_etl_project_spark.queries.sampling_q import q_agg_kmv_merge
    from mini_etl_project_spark.queries.windows import (
        q_window_frames,
        q_window_range_frame,
    )

    sf = "/root/testdata/sf0.001"
    from mini_etl_project_spark.queries.ml_q import q_ml_lift_table

    for q in (q_window_range_frame, q_window_frames, q_ts_gapfill,
              q_agg_kmv_merge, q_ml_lift_table):
        plan = q(spark, sf)._jdf.queryExecution().executedPlan().toString()
        assert "Window" in plan, q.__name__
        # top-down plan text: the Window node must appear ABOVE (before)
        # an aggregate it consumes
        assert "HashAggregate" in plan, q.__name__
        assert plan.index("Window") < plan.rindex("HashAggregate"), q.__name__


def test_stateful_v2_gating():
    """transformWithStateInPandas needs google.protobuf (absent here):
    the query must register exactly when the runtime supports it."""
    from mini_etl_project_spark.queries import QUERIES
    from mini_etl_project_spark.queries.streaming_q import _has_tws_runtime

    assert ("q_stream_stateful_v2" in QUERIES) == _has_tws_runtime()


@pytest.mark.parametrize("table", ["events"])
def test_events_loader_normalizes_ts(spark, sf_dir, table):
    """Whatever the parquet generation stores (nanos-as-long or micros
    NTZ), the loader must surface session-TZ TIMESTAMP."""
    from mini_etl_project_spark.session import load_table

    df = load_table(spark, sf_dir, table)
    assert df.schema["ts"].dataType.typeName() == "timestamp"
    mx = df.agg(F.max("ts")).collect()[0][0]
    assert mx is not None and mx.year >= 2020
