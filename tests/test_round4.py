"""Round-4 additions: stateful-V2 semantics pinned through the V1 engine
(the TWS runtime stays env-gated on protobuf), and a quantitative
recall/precision sweep for MinHash-LSH dedup on an adversarial random
corpus (the planted-corpus oracle query proves exactness; this proves the
banding math delivers the recall the (b, r) S-curve promises).
"""

from __future__ import annotations

import random

import pandas as pd
import pyspark.sql.functions as F
import pytest

from mini_etl_project_spark.operators.dedup import (
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
    shingle_rows,
)
from mini_etl_project_spark.streaming.ops import _type_count_transition


# -- stateful V2 semantics -------------------------------------------------


def _fold(batches):
    counts: dict[str, int] = {}
    for b in batches:
        counts = _type_count_transition(counts, b)
    return counts


def test_type_count_transition_batching_invariance():
    """The shared V1/V2 state transition gives identical final state for
    ANY micro-batch split of the same input — the invariant that makes
    the drained-stream oracle hold whether the replay ran as 1 batch or
    50."""
    rng = random.Random(7)
    events = [rng.choice("abcde") for _ in range(500)]
    whole = _fold([pd.DataFrame({"event_type": events})])
    for trial in range(5):
        cuts = sorted(rng.sample(range(1, 500), rng.randint(1, 12)))
        parts = [
            pd.DataFrame({"event_type": events[i:j]})
            for i, j in zip([0] + cuts, cuts + [500])
        ]
        assert _fold(parts) == whole
    # and it matches the plain counter
    expected: dict[str, int] = {}
    for e in events:
        expected[e] = expected.get(e, 0) + 1
    assert whole == expected


def test_stateful_types_v1_path_equals_batch(spark, sf_dir):
    """The V1-engine run of the shared transition equals the batch GROUP
    BY on the same events — the equivalence that carries the (env-gated)
    V2 processor's semantics in this container."""
    from mini_etl_project_spark.queries.streaming_q import (
        q_stream_stateful_types,
    )
    from mini_etl_project_spark.session import load_table

    got = {
        (r["user_id"], r["event_type"]): r["n_events"]
        for r in q_stream_stateful_types(spark, sf_dir).collect()
    }
    want = {
        (r["user_id"], r["event_type"]): r["n"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want


def _has_tws_runtime() -> bool:
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


@pytest.mark.skipif(
    not _has_tws_runtime(),
    reason="TWS state server needs google.protobuf — absent in this "
    "container and installs are prohibited; see COVERAGE.md "
    "'Stateful V2 runtime gate — container-level impossibility'",
)
def test_stateful_v2_live_equals_v1(spark, sf_dir):
    """Where the TWS runtime exists, the V2 operator itself must agree
    with the V1 path row-for-row."""
    from mini_etl_project_spark.queries.streaming_q import (
        q_stream_stateful_types,
        q_stream_stateful_v2,
    )

    v1 = {tuple(r) for r in q_stream_stateful_types(spark, sf_dir).collect()}
    v2 = {tuple(r) for r in q_stream_stateful_v2(spark, sf_dir).collect()}
    assert v1 == v2


# -- pipeline fused-stats speculation fallback ------------------------------


def test_fused_stats_leftover_path_matches_speculation(spark):
    """A mode-needing column whose cardinality exceeds the speculation
    bound takes the dedicated fallback job; forcing EVERY column down
    that path (bound = 0) must not change any output or report line —
    speculative and dedicated mode computation are the same math."""
    from mini_etl_project_spark.plans.pipeline import AutoETLPipeline

    rows = []
    for i in range(200):
        # high-cardinality TEXT column (distinct >= 50, len > 10, unique
        # ratio > 0.5 -> not categorical, so nulls SURVIVE cleaning and a
        # mode fill fires); 'value_string_modal' planted as the mode
        if i % 5 == 0:
            tag = None
        elif i % 3 == 0:
            tag = "value_string_modal"
        else:
            tag = f"value_string_{i}"
        rows.append((i, tag))
    df = spark.createDataFrame(rows, "id bigint, tag string")

    def run(bound):
        saved = AutoETLPipeline._SPECULATE_MAX_DISTINCT
        AutoETLPipeline._SPECULATE_MAX_DISTINCT = bound
        try:
            p = AutoETLPipeline(eager_summary=False)
            out = {tuple(r) for r in p.transform(df).collect()}
            return out, p.cleaning_report
        finally:
            AutoETLPipeline._SPECULATE_MAX_DISTINCT = saved

    spec_out, spec_report = run(100_000)
    fall_out, fall_report = run(0)
    assert spec_out == fall_out
    assert spec_report == fall_report
    assert any("filled missing values" in n for n in spec_report["tag"])


# -- hive-style partitioned layout -----------------------------------------


def test_write_partitioned_prunes_directories(spark, sf_dir, tmp_path):
    """Partitioned parquet layout: a filter on the partition column must
    show up as a PartitionFilter (directory pruning, zero data I/O for
    non-matching partitions) and values must round-trip."""
    import os

    from mini_etl_project_spark.session import load_table
    from mini_etl_project_spark.sources.writers import write_partitioned

    ev = load_table(spark, sf_dir, "events")
    out = str(tmp_path / "events_by_type")
    write_partitioned(
        ev, out, ["event_type"], sort_cols=["ts"], max_records_per_file=50_000
    )
    # one directory per event type
    dirs = {d for d in os.listdir(out) if d.startswith("event_type=")}
    types = {r[0] for r in ev.select("event_type").distinct().collect()}
    assert dirs == {f"event_type={t}" for t in types}

    back = spark.read.parquet(out).filter(F.col("event_type") == "click")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "event_type" in plan.split(
        "PartitionFilters", 1
    )[1].split("]", 1)[0]
    got = {r["event_id"] for r in back.collect()}
    want = {
        r["event_id"]
        for r in ev.filter(F.col("event_type") == "click").collect()
    }
    assert got == want


# -- runtime bloom-filter join pruning --------------------------------------


def test_runtime_bloom_filter_injects_on_selective_join(spark, sf_dir):
    """Spark's runtime bloom filter (on by default) pre-filters the probe
    side of a shuffle join with a bloom filter built from the filtered
    build side — at 100 TB this cuts the lineitem shuffle to rows whose
    orderkey can match. It self-gates on a 10 GB probe-scan threshold, so
    at test scale we lower the threshold to prove the machinery injects
    (`bloom_filter` agg + `might_contain` probe) and stays correct."""
    from mini_etl_project_spark.session import load_table

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        l = load_table(spark, sf_dir, "lineitem")
        o = load_table(spark, sf_dir, "orders").filter(
            F.col("o_totalprice") > 400000
        )
        j = (
            l.join(o, l["l_orderkey"] == o["o_orderkey"])
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter" in plan and "might_contain" in plan
        got = {(r[0], r[1]) for r in j.collect()}
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    want = {
        (r[0], r[1])
        for r in load_table(spark, sf_dir, "lineitem")
        .join(
            load_table(spark, sf_dir, "orders").filter(
                F.col("o_totalprice") > 400000
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderpriority")
        .count()
        .collect()
    }
    assert got == want


# -- KMV sketch accuracy ---------------------------------------------------


def test_kmv_estimate_within_error_bound(spark, sf_dir):
    """KMV's standard error is ~1/sqrt(k-2); at k=64 a 4-sigma band is
    ~51 %. Assert every group's estimate lands inside it (the oracle
    already pins bit-reproducibility; this pins that the sketch MATH is
    right, not just portable)."""
    from mini_etl_project_spark.queries.sampling_q import (
        _KMV_K,
        q_agg_kmv_distinct,
    )

    rows = q_agg_kmv_distinct(spark, sf_dir).collect()
    assert rows
    band = 4.0 / (_KMV_K - 2) ** 0.5
    for r in rows:
        exact, est = r["exact_distinct"], r["est_distinct"]
        if exact < _KMV_K:
            assert est == float(exact)  # exact-count fallback
        else:
            assert abs(est - exact) / exact <= band, (
                f"{r['l_returnflag']}: est {est:.0f} vs exact {exact} "
                f"(rel err {abs(est - exact) / exact:.2%} > {band:.0%})"
            )


# -- MinHash-LSH recall/precision ------------------------------------------

_ALPHA = "abcdefghijklmnopqrstuvwxyz "


def _random_corpus(
    rng: random.Random, n_base: int = 30, doc_len: int = 200
) -> list[tuple[int, str]]:
    """n_base random documents, each with one planted near-duplicate
    (2 % of characters mutated → 5-shingle Jaccard ~0.8); the base docs
    themselves are mutually unrelated (random text, Jaccard ≈ 0)."""
    docs = []
    for i in range(n_base):
        text = "".join(rng.choice(_ALPHA) for _ in range(doc_len))
        mutated = list(text)
        for pos in rng.sample(range(doc_len), max(1, doc_len // 50)):
            mutated[pos] = rng.choice(_ALPHA)
        docs.append((2 * i, text))
        docs.append((2 * i + 1, "".join(mutated)))
    return docs


def _lsh_quality(spark, docs, num_hashes, rows_per_band, threshold=0.7):
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    sh = shingle_rows(df, "doc_id", "text", k=5)
    truth = {
        (r["id_a"], r["id_b"])
        for r in jaccard_pairs(sh, threshold=threshold).collect()
    }
    cand = {
        (r["id_a"], r["id_b"])
        for r in lsh_candidate_pairs(
            minhash_signatures(sh, num_hashes=num_hashes),
            rows_per_band=rows_per_band,
        ).collect()
    }
    assert truth, "corpus must contain true near-dup pairs"
    recall = len(truth & cand) / len(truth)
    precision = len(truth & cand) / len(cand) if cand else 1.0
    return recall, precision, len(truth), len(cand)


def test_lsh_recall_sweep(spark):
    """Recall/precision against exact Jaccard on a random corpus with
    planted ~0.8-Jaccard near-dups. The (b, r) S-curve
    P(candidate) = 1-(1-s^r)^b predicts: 16 hashes as 8 bands x 2 rows
    catches s=0.8 pairs w.p. ~0.999; as 4 bands x 4 rows only ~0.87 —
    the sweep must reproduce that ordering, and the scale configuration
    (8x2) must clear 0.9 recall at sane precision."""
    rng = random.Random(42)
    docs = _random_corpus(rng)
    r82 = _lsh_quality(spark, docs, num_hashes=16, rows_per_band=2)
    r44 = _lsh_quality(spark, docs, num_hashes=16, rows_per_band=4)
    print(
        f"\nLSH recall/precision: 8x2 -> recall={r82[0]:.3f} "
        f"precision={r82[1]:.3f} (truth={r82[2]}, cand={r82[3]}); "
        f"4x4 -> recall={r44[0]:.3f} precision={r44[1]:.3f} "
        f"(cand={r44[3]})"
    )
    assert r82[0] >= 0.9, f"8x2 recall {r82[0]:.3f} below target"
    assert r82[0] >= r44[0] - 1e-9, "more bands must not lose recall"
    # precision floor: random non-dup pairs (s~=0.05) should almost never
    # band-collide at r=2 (P ~= 1-(1-0.05^2)^8 ~= 2%); the candidate set
    # must stay dominated by true pairs, not drift toward all-pairs.
    assert r82[1] >= 0.5, f"8x2 precision {r82[1]:.3f} collapsed"
