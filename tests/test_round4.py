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


# -- pipeline fill-stats mispredict fallback ---------------------------------


_MISPREDICT_SCHEMA = "id string, tag string, day string, note string"


def _mispredict_row(i: int, role: str) -> tuple:
    """One row of the mispredict frame; ``role`` plants the dirt."""
    tag = "value_string_modal" if i % 4 == 0 else f"value_string_{i}"
    day = f"2024-01-{1 + i % 28:02d}"
    # whitespace variants of one value: the raw top-1 is the 4x
    # "b_value_modal_x", the collapsed top-1 the 7x "mode candidate one"
    planted = (
        ["mode  candidate  one"] * 3
        + ["mode candidate one"] * 2
        + ["mode   candidate one"] * 2
        + ["b_value_modal_x"] * 4
    )
    note = planted[i] if i < len(planted) else f"short note {i}"
    if role == "tag_null":
        tag = None
    elif role == "tag_na":
        tag = "N/A"
    elif role == "day_bad":
        day = "bogus"
    elif role == "note_long":
        note = f"long note {i} " + "x" * 50
    elif role == "note_null":
        note = None
    return (str(i), tag, day, note)


def test_fill_stats_mispredict_fallback_matches_full_profile(spark):
    """Under a 1/k hash-sampled profile the fill prediction can miss: the
    sample holds none of ``tag``'s null/sentinel rows nor ``day``'s
    unparseable rows (both predicted fill-free), and ``note``'s sampled
    cleaned mean length sits below 20 while the full frame's is above it
    (its top-1 predicted in the wrong whitespace variant). The mispredict
    fallback must recompute exactly those fills: output, report and types
    equal the every-row profile, which predicts every fill right."""
    from collections import Counter

    from mini_etl_project_spark.functions.cleaning import clean_text
    from mini_etl_project_spark.plans.pipeline import AutoETLPipeline

    k = 4
    cols = [F.col(c) for c in ("id", "tag", "day", "note")]
    in_sample = F.pmod(F.xxhash64(*cols), F.lit(k)) == 0
    # (role, rows wanted, must the row be in the profiled sample?)
    wanted = [
        ("tag_null", 10, False),
        ("tag_na", 10, False),
        ("day_bad", 10, False),
        ("note_long", 60, False),
        ("note_null", 3, True),
    ]
    cands = spark.createDataFrame(
        [_mispredict_row(i, role) for role, _, _ in wanted for i in range(200, 2000)],
        _MISPREDICT_SCHEMA,
    )
    hit = {
        (r["id"], r["tag"], r["day"], r["note"]): r["s"]
        for r in cands.select(*cols, in_sample.alias("s")).collect()
    }
    rows = [_mispredict_row(i, "plain") for i in range(200)]
    used: set[str] = set()
    for role, n, want in wanted:
        picked = 0
        for i in range(200, 2000):
            row = _mispredict_row(i, role)
            if picked < n and str(i) not in used and hit[row] == want:
                rows.append(row)
                used.add(str(i))
                picked += 1
        assert picked == n
    df = spark.createDataFrame(rows, _MISPREDICT_SCHEMA)

    # the sample has the properties the docstring names
    clean_len = F.length(clean_text("note", collapse_whitespace=False))
    sample = df.filter(in_sample)
    s = sample.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("tag").isNull() | (F.col("tag") == "N/A")).cast("int")).alias(
            "tag_dirt"
        ),
        F.sum((F.col("day") == "bogus").cast("int")).alias("day_dirt"),
        F.sum(F.col("note").isNull().cast("int")).alias("note_null"),
        F.avg(clean_len).alias("note_len"),
    ).collect()[0]
    full_len = df.agg(F.avg(clean_len)).collect()[0][0]
    assert s["n"] > 0 and s["tag_dirt"] == 0 and s["day_dirt"] == 0
    assert s["note_null"] > 0 and s["note_len"] <= 20 < full_len

    def run(mod):
        p = AutoETLPipeline(eager_summary=False, profile_sample_mod=mod)
        calls = []
        real = p._fill_stats

        def spy(*a):
            calls.append(sorted(a[2]))  # the stacked labels
            return real(*a)

        p._fill_stats = spy
        out = Counter(p.transform(df).collect())
        p.release()
        return out, p.cleaning_report, p.column_types, calls

    s_out, s_report, s_types, s_calls = run(k)
    f_out, f_report, f_types, f_calls = run(None)
    assert s_out == f_out
    assert s_report == f_report
    assert s_types == f_types
    for c in ("tag", "day", "note"):
        assert any("filled missing values with value" in n for n in s_report[c])
    assert "filled missing values with value: mode candidate one" in s_report["note"]
    assert len(f_calls) == 1                  # every fill predicted
    assert s_calls[1] == ["day", "note", "tag"]  # the three mispredicts


def _spy_fill_stats(monkeypatch):
    """Record each ``_fill_stats`` call's aggregate strings and stacked
    labels."""
    from mini_etl_project_spark.plans.pipeline import AutoETLPipeline

    calls = []
    real = AutoETLPipeline._fill_stats

    def spy(self, df, aggs, stacked, count_labels):
        calls.append(([str(a) for a in aggs], sorted(stacked)))
        return real(self, df, aggs, stacked, count_labels)

    monkeypatch.setattr(AutoETLPipeline, "_fill_stats", spy)
    return calls


def test_fill_stats_skips_predicted_drop(spark, sf_dir, monkeypatch):
    """``q_etl_pipeline_events``' 90 %-null ``junk`` column is dropped; the
    profile predicts that, so no fill statistic of it is computed — its
    null count (the drop decision itself) is its only aggregate."""
    from mini_etl_project_spark.queries import QUERIES

    calls = _spy_fill_stats(monkeypatch)
    out = QUERIES["q_etl_pipeline_events"](spark, sf_dir)
    assert "junk" not in out.columns
    assert len(calls) == 1
    aggs, stacked = calls[0]
    junk_aggs = [a for a in aggs if "junk" in a]
    assert len(junk_aggs) == 1 and junk_aggs[0].endswith(" AS `junk__null`")
    assert "junk" not in stacked


_DROP_SCHEMA = "id string, amt string, word string"


def test_predicted_drop_kept_by_full_scan_takes_fallback(spark, monkeypatch):
    """Under a k = 2 hash-sampled profile, ``amt`` (numeric) and ``word``
    (text) look > 80 % null in the sample but are 70 % null in full, so
    they are kept. The predicted drop skips their fills; the mispredict
    fallback must compute them: output, report and types equal the
    every-row profile's."""
    from collections import Counter

    from mini_etl_project_spark.plans.pipeline import AutoETLPipeline

    k = 2
    cols = [F.col(c) for c in ("id", "amt", "word")]
    in_sample = F.pmod(F.xxhash64(*cols), F.lit(k)) == 0

    def row(i, filled):
        if filled:
            return (str(i), f"{i}.25", f"a longer word value {i}")
        return (str(i), None, None)

    cands = spark.createDataFrame(
        [row(i, f) for i in range(3000) for f in (True, False)], _DROP_SCHEMA
    )
    hit = {
        (r["id"], r["amt"], r["word"]): r["s"]
        for r in cands.select(*cols, in_sample.alias("s")).collect()
    }
    rows, used = [], set()
    # (filled?, rows wanted, must the row be in the profiled sample?) —
    # half the null rows sampled, so the extrapolated "invalid values"
    # report line is exact
    wanted = (
        (True, 10, True),
        (True, 110, False),
        (False, 140, True),
        (False, 140, False),
    )
    for filled, n, want in wanted:
        picked = 0
        for i in range(3000):
            r = row(i, filled)
            if picked < n and i not in used and hit[r] == want:
                rows.append(r)
                used.add(i)
                picked += 1
        assert picked == n
    df = spark.createDataFrame(rows, _DROP_SCHEMA)

    # the sample predicts the drop the full scan does not make
    def null_share(frame):
        r = frame.agg(
            F.count(F.lit(1)).alias("n"), F.count("amt").alias("a")
        ).collect()[0]
        return (r["n"] - r["a"]) / r["n"]

    assert null_share(df.filter(in_sample)) > 0.8 >= null_share(df)

    calls = _spy_fill_stats(monkeypatch)

    def run(mod):
        calls.clear()
        p = AutoETLPipeline(eager_summary=False, profile_sample_mod=mod)
        out = Counter(p.transform(df).collect())
        p.release()
        return out, p.cleaning_report, p.column_types, list(calls)

    s_out, s_report, s_types, s_calls = run(k)
    f_out, f_report, f_types, f_calls = run(None)
    assert s_out == f_out
    assert s_report == f_report
    assert s_types == f_types == {"id": "numeric", "amt": "numeric", "word": "text"}
    assert any("filled missing values with median" in n for n in s_report["amt"])
    assert any("filled missing values with value" in n for n in s_report["word"])
    assert len(f_calls) == 1  # every fill predicted
    assert len(s_calls) == 2
    assert not any("amt__med" in a for a in s_calls[0][0])
    assert "word" not in s_calls[0][1]
    assert any("amt__med" in a for a in s_calls[1][0])
    assert s_calls[1][1] == ["word"]


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
