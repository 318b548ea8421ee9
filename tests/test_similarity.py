"""Value pins for the SQL-expression builders behind dedup and similarity
search: ``textops.hash64`` (and the minhash signature built on it), the
exact-decimal ``dot_exact``/``sqnorm_exact``/``cosine_exact``, and the
``RandomHyperplaneLSH`` bucket ids — each checked against an independent
Python computation (hashlib, decimal, numpy), not against Spark.
"""

from __future__ import annotations

import hashlib
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _py_hash64(value: str, seed: int) -> int:
    return int(hashlib.md5(f"{seed}:{value}".encode()).hexdigest()[:15], 16)


def test_hash64_matches_md5(spark):
    from mini_etl_project_spark.operators.textops import hash64

    vals = ["", "a", "abc de", "12", "ünï", "x:y"]
    seeds = [0, 1, 7, 12, 123456]
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    rows = df.select("s", *[hash64("s", k).alias(f"h{k}") for k in seeds]).collect()
    for r in rows:
        for k in seeds:
            assert r[f"h{k}"] == _py_hash64(r["s"], k), (r["s"], k)
    # SQL-text argument: the id-cast form the weighted mix uses
    got = spark.range(3).select(hash64("CAST(id AS STRING)", 5).alias("h")).collect()
    assert [r.h for r in got] == [_py_hash64(str(i), 5) for i in range(3)]


def test_minhash_signature_matches_python(spark):
    from mini_etl_project_spark.operators.dedup import minhash_signatures

    docs = {1: ["abc", "bcd", "cde"], 2: ["zzz"], 3: ["abc", "q"]}
    sh = spark.createDataFrame(
        [(i, s) for i, ss in docs.items() for s in ss], "id int, shingle string"
    )
    got = {r.id: r.minhashes for r in minhash_signatures(sh, 8).collect()}
    want = {
        i: [min(_py_hash64(s, k) for s in ss) for k in range(8)]
        for i, ss in docs.items()
    }
    assert got == want


def _dec_term(p: float) -> Decimal:
    # Spark's double -> DECIMAL(28,10) cast: the double's shortest decimal
    # string, rounded HALF_UP to scale 10.
    return Decimal(repr(p)).quantize(Decimal("1e-10"), rounding=ROUND_HALF_UP)


def _py_dot(a, b) -> float:
    return float(sum(_dec_term(float(x) * float(y)) for x, y in zip(a, b)))


def test_dot_and_sqnorm_exact_match_decimal_rounding(spark):
    from mini_etl_project_spark.functions.vectors import (
        cosine_exact,
        dot_exact,
        sqnorm_exact,
    )

    e = spark.read.parquet(f"{SF}/embeddings.parquet").filter(F.col("vec_id") < 40)
    pairs = (
        e.alias("p")
        .join(e.alias("q"), F.col("p.vec_id") + 1 == F.col("q.vec_id"))
        .select(F.col("p.embedding").alias("va"), F.col("q.embedding").alias("vb"))
    )
    # hand-made rows whose products carry digits past scale 10, so any
    # partial sum rounded to fewer digits moves the result
    hand = spark.createDataFrame(
        [
            ([0.00012345678912, 1.0, 3.3e-11, -0.7], [1.0, 0.12345678901, 1.0, 0.3]),
            ([1e-6, 2.5e-6, 0.0], [1e-5, 4.0e-5, 9.0]),
            ([0.0, 0.0], [1.0, 2.0]),
        ],
        "va array<double>, vb array<double>",
    )
    rows = (
        pairs.select(
            F.col("va").cast("array<double>"), F.col("vb").cast("array<double>")
        )
        .unionByName(hand)
        .select(
            "va",
            "vb",
            dot_exact("va", "vb").alias("dot"),
            sqnorm_exact("va").alias("sq"),
            cosine_exact("va", "vb").alias("cos"),
        )
        .collect()
    )
    assert len(rows) == 42
    for r in rows:
        dot, sqa, sqb = _py_dot(r.va, r.vb), _py_dot(r.va, r.va), _py_dot(r.vb, r.vb)
        assert r.dot == dot
        assert r.sq == sqa
        denom = float(np.sqrt(sqa)) * float(np.sqrt(sqb))
        assert r.cos == (dot / denom if denom != 0 else None)


def test_add_buckets_match_numpy_signs(spark):
    from mini_etl_project_spark.operators.similarity import (
        RandomHyperplaneLSH,
        _hyperplane,
    )

    dim, bits, tables = 64, 4, 3
    e = spark.read.parquet(f"{SF}/embeddings.parquet").filter(F.col("vec_id") < 60)
    extra = spark.createDataFrame(
        [(-1, [0.0] * dim), (-2, None)], "vec_id long, embedding array<float>"
    )
    vecs = e.select("vec_id", "embedding").unionByName(extra)
    data = {r.vec_id: r.embedding for r in vecs.collect()}
    planes = {
        (t, b): np.asarray(_hyperplane(dim, t, b)) for t in range(tables) for b in range(bits)
    }
    want = {}
    for vid, v in data.items():
        for t in range(tables):
            if v is None:
                want[(vid, t)] = 0  # a null vector sets no bit
                continue
            x = np.asarray(v, dtype="float64")
            dots = [float(x @ planes[(t, b)]) for b in range(bits)]
            # the fixture has no dot inside the double/decimal ambiguity band
            assert vid < 0 or all(abs(d) > 1e-9 for d in dots)
            want[(vid, t)] = sum(1 << b for b, d in enumerate(dots) if d >= 0)
    assert want[(-1, 0)] == (1 << bits) - 1  # zero vector: every dot is 0 >= 0
    lsh = RandomHyperplaneLSH(dim=dim, bits=bits, tables=tables)
    got = {
        (r.vec_id, r.table): r.bucket
        for r in lsh.add_buckets(vecs, "embedding").collect()
    }
    assert got == want


def test_bucket_sign_is_the_decimal_dot_sign(spark):
    """A dot whose per-term products all round to 0 at DECIMAL scale 10
    is 0 for the exact-decimal sign (bit set, as the DuckDB oracles
    decide it) even though its double fold is negative."""
    from mini_etl_project_spark.operators.similarity import (
        RandomHyperplaneLSH,
        _hyperplane,
    )

    dim, bits, tables = 64, 3, 2
    plane = _hyperplane(dim, 0, 0)
    vec = [-1e-12 if p >= 0 else 1e-12 for p in plane]
    double_fold = 0.0
    for x, p in zip(vec, plane):
        double_fold += x * p
    assert double_fold < 0
    assert sum(_dec_term(x * p) for x, p in zip(vec, plane)) == 0
    want = {
        t: sum(
            1 << b
            for b in range(bits)
            if sum(_dec_term(x * p) for x, p in zip(vec, _hyperplane(dim, t, b))) >= 0
        )
        for t in range(tables)
    }
    assert want[0] & 1
    df = spark.createDataFrame([(1, vec)], "vec_id long, embedding array<double>")
    lsh = RandomHyperplaneLSH(dim=dim, bits=bits, tables=tables)
    got = {r.table: r.bucket for r in lsh.add_buckets(df, "embedding").collect()}
    assert got == want
