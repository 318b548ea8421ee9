"""Similarity search over embedding columns (X3 exact, X4 approximate).

- ``topk_exact``: brute-force cosine top-k — the small-SF oracle and the
  recall yardstick. Query set × corpus via broadcast join (queries are few;
  never materialize corpus×corpus), exact-decimal cosine, window top-k.
- ``RandomHyperplaneLSH``: the scale path. Deterministic md5-derived
  hyperplanes (no RNG state to ship), one bucket per table from the signs
  of exact-decimal dots, so any engine that follows the md5 derivation
  re-derives every bucket; top-k is computed only within matching
  buckets across L tables. Sub-linear candidate sets at 100 TB, tunable
  recall via (bits, tables).
- ``ml_brp_lsh``: the spark.ml BucketedRandomProjectionLSH equivalent
  (Euclidean), kept as the library-native alternative.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mini_etl_project_spark.functions.vectors import (
    cosine_exact,
    dot_exact,
    dot_sign_nonneg_sql,
    sqnorm_exact,
)


def topk_exact(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector (self excluded).

    Output: (query_id, neighbor_id, cosine, rank), rank 1..k,
    deterministic tie-break on neighbor id.
    """
    from mini_etl_project_spark.session import ensure_parallelism

    # The scoring projection sits BELOW the window exchange, so its
    # parallelism is the corpus scan's — a single-row-group embeddings
    # file would otherwise run every decimal dot in ONE task (measured
    # 1.35 s → 0.56 s at sf0.1 from this alone; no-op at scale).
    corpus = ensure_parallelism(corpus)
    # Hoist each side's norm to one computation per VECTOR — inlining
    # cosine_exact would recompute both norms per (query, neighbor) pair,
    # tripling the array work (measured ~35 % of the query).
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.sqrt(sqnorm_exact(vec_col)).alias("q_norm"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        F.sqrt(sqnorm_exact(vec_col)).alias("c_norm"),
    )
    denom = F.col("q_norm") * F.col("c_norm")
    scored = (
        c.join(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", F.when(denom != 0, dot_exact("q_vec", "c_vec") / denom))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _hyperplane(dim: int, table: int, bit: int) -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane from md5 bytes.

    Components are derived per (table, bit, dim-index) from md5, mapped to
    [-1, 1). Deterministic across runs/machines — the signature of a
    vector never depends on which executor computed it.
    """
    import hashlib

    out = []
    for d in range(dim):
        h = hashlib.md5(f"rhp:{table}:{bit}:{d}".encode()).digest()
        v = int.from_bytes(h[:8], "big")
        out.append(v / 2**63 - 1.0)
    return out


def hyperplane_sigs_sql(
    bits: int | str, tables: int, dim: int, sources: dict[str, str]
) -> str:
    """DuckDB twin of ``RandomHyperplaneLSH(dim, bits, tables).add_buckets``
    for oracle SQL: the text of a ``planes`` CTE (``_hyperplane`` in SQL)
    and, per ``name: relation`` in *sources*, a CTE ``name(vec_id, tbl,
    bucket)`` of that relation's ``embedding`` signatures. *bits* is a SQL
    expression (a literal, or a scalar subquery over an earlier CTE). The
    caller writes the ``WITH`` and any CTEs around it."""
    planes = f"""planes AS (
  SELECT t.t AS tbl, b.b AS bit, d.d AS dim,
         (('0x' || substr(md5('rhp:' || t.t || ':' || b.b || ':' || d.d),
                          1, 16))::UBIGINT::DOUBLE
          / 9223372036854775808.0 - 1.0) AS w
  FROM (SELECT {bits} AS n) k,
       unnest(generate_series(0, {tables - 1})) t(t),
       unnest(generate_series(0, k.n - 1)) b(b),
       unnest(generate_series(0, {dim - 1})) d(d))"""
    sigs = [
        f"""{name} AS (
  SELECT vec_id, tbl,
         SUM(CASE WHEN dot >= 0 THEN (1::BIGINT << bit) ELSE 0 END) AS bucket
  FROM (SELECT e.vec_id, p.tbl, p.bit,
               SUM(CAST(CAST(e.embedding[p.dim + 1] AS DOUBLE) * p.w
                        AS DECIMAL(38,10))) AS dot
        FROM {rel} e, planes p
        GROUP BY e.vec_id, p.tbl, p.bit)
  GROUP BY vec_id, tbl)"""
        for name, rel in sources.items()
    ]
    return ",\n".join([planes, *sigs])


class RandomHyperplaneLSH:
    """Sign-random-projection LSH for cosine similarity (X4).

    P[bucket match per bit] = 1 − θ/π; with ``bits`` per table and
    ``tables`` independent tables, near neighbors collide w.h.p. while
    the corpus shards into ~2^bits buckets per table. Each bit is the
    sign of the exact-decimal dot (``dot_sign_nonneg_sql``), so a vector's
    buckets do not depend on partitioning and a SQL oracle re-derives
    them (``q_sim_lsh_topk``).
    """

    def __init__(self, dim: int, bits: int = 8, tables: int = 4) -> None:
        self.dim, self.bits, self.tables = dim, bits, tables
        # Each table's planes as ONE array(array(...)) of SQL literals
        # (bits × dim doubles, tiny), parsed with the rest of the bucket
        # expression; the optimizer folds it to a single array Literal.
        # (``F.lit(list)`` is not one Literal: it builds ``array(lit(x),
        # ...)``, one py4j call per component.) ``repr`` round-trips each
        # double exactly.
        self._planes = [
            "array("
            + ", ".join(
                "array(" + ", ".join(f"{v!r}D" for v in _hyperplane(dim, t, b)) + ")"
                for b in range(bits)
            )
            + ")"
            for t in range(tables)
        ]

    def bucket(self, vec_col: str, table: int) -> str:
        """SQL for the bucket id (bigint) of a vector in one table: the
        packed sign bits, folded over (bit, plane) with ``zip_with``."""
        # Sign-only decision: double fold with an exact-decimal fallback
        # inside ±1e-6 of zero — bit-identical to the pure decimal fold
        # (see dot_sign_nonneg_sql), ~10× cheaper on the bucketing hot path.
        # The lambda variables must not shadow the column ``vec_col`` names.
        return (
            f"aggregate(zip_with(sequence(0, {self.bits - 1}), {self._planes[table]}, "
            f"(_bit, _plane) -> IF({dot_sign_nonneg_sql(vec_col, '_plane')}, "
            "shiftleft(1L, _bit), 0L)), "
            "0L, (acc, x) -> acc + x)"
        )

    def add_buckets(self, df: DataFrame, vec_col: str = "embedding") -> DataFrame:
        """One row per (row, table) with its bucket id."""
        out = df.select("*", F.expr(f"explode(sequence(0, {self.tables - 1})) AS `table`"))
        # CASE over the table index — branches evaluate lazily, so each
        # row computes exactly one table's bit signature
        whens = " ".join(
            f"WHEN {t} THEN {self.bucket(vec_col, t)}" for t in range(self.tables)
        )
        return out.withColumn("bucket", F.expr(f"CASE `table` {whens} END"))

    def topk(
        self,
        corpus: DataFrame,
        queries: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        k: int = 5,
    ) -> DataFrame:
        """ANN top-k: exact cosine, but only within shared LSH buckets."""
        # Candidate generation dedups (query_id, neighbor_id) PAIRS ONLY —
        # never shuffle or hash the 64-float payload arrays through the
        # distinct; vectors and per-vector norms are joined back after.
        # This is the 100 TB shape: the wide payload crosses the wire once.
        cb = self.add_buckets(
            corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")),
            "c_vec",
        ).select("table", "bucket", "neighbor_id")
        qb = self.add_buckets(
            queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")),
            "q_vec",
        ).select("table", "bucket", "query_id")
        cand = (
            cb.join(qb, ["table", "bucket"])
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .select("query_id", "neighbor_id")
            .distinct()
        )
        q_full = queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("q_vec"),
            F.sqrt(sqnorm_exact(vec_col)).alias("q_norm"),
        )
        c_full = corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("c_vec"),
            F.sqrt(sqnorm_exact(vec_col)).alias("c_norm"),
        )
        denom = F.col("q_norm") * F.col("c_norm")
        scored = (
            cand.join(F.broadcast(q_full), "query_id")
            .join(c_full, "neighbor_id")
            .withColumn(
                "cosine", F.when(denom != 0, dot_exact("q_vec", "c_vec") / denom)
            )
        )
        w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cosine", "rank")
        )


class IVFIndex:
    """IVF-style ANN (X4 second scale path): k-means coarse quantization,
    then exact search within the ``nprobe`` closest cells.

    At 100 TB the corpus is written partitioned by ``cell`` so a query
    touches only ``nprobe`` partitions (partition pruning at the scan).
    Seeded KMeans keeps centroid assignment reproducible for a fixed
    corpus + partitioning.
    """

    def __init__(self, n_cells: int = 16, nprobe: int = 4, seed: int = 42) -> None:
        self.n_cells, self.nprobe, self.seed = n_cells, nprobe, seed
        self._model = None

    def fit(self, corpus: DataFrame, vec_col: str = "embedding") -> "IVFIndex":
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        feats = corpus.select(array_to_vector(F.col(vec_col)).alias("features"))
        self._model = KMeans(
            k=self.n_cells, seed=self.seed, featuresCol="features"
        ).fit(feats)
        return self

    def _assign(self, df: DataFrame, vec_col: str, out: str) -> DataFrame:
        from pyspark.ml.functions import array_to_vector

        assigned = self._model.transform(
            df.withColumn("features", array_to_vector(F.col(vec_col)))
        )
        return assigned.withColumnRenamed("prediction", out).drop("features")

    def topk(
        self,
        corpus: DataFrame,
        queries: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        k: int = 5,
    ) -> DataFrame:
        """Exact cosine top-k within each query's ``nprobe`` nearest cells."""
        import numpy as np

        c = self._assign(
            corpus.select(
                F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
            ),
            "c_vec",
            "cell",
        )
        # close over plain Python values only — capturing `self` would drag
        # the unpicklable JVM-backed KMeans model into the UDF closure
        centers = [list(map(float, ctr)) for ctr in self._model.clusterCenters()]
        nprobe = self.nprobe

        @F.pandas_udf("array<int>")
        def probe_cells(vecs):
            import pandas as pd

            ctrs = np.array(centers)
            out = []
            for v in vecs:
                d = ((ctrs - np.asarray(v, dtype="float64")) ** 2).sum(axis=1)
                out.append(np.argsort(d, kind="stable")[:nprobe].astype("int32"))
            return pd.Series(out)

        q = queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
        ).withColumn("cell", F.explode(probe_cells(F.col("q_vec"))))
        cand = c.join(F.broadcast(q), "cell").filter(
            F.col("query_id") != F.col("neighbor_id")
        )
        scored = cand.withColumn("cosine", cosine_exact("q_vec", "c_vec"))
        w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cosine", "rank")
        )


    # -- the 100 TB layout: corpus on disk partitioned by cell -------------

    def write_partitioned(
        self,
        corpus: DataFrame,
        path: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> None:
        """Materialize the corpus partitioned by ``cell`` — the layout that
        makes a query touch only its ``nprobe`` cells' files."""
        c = self._assign(
            corpus.select(F.col(id_col), F.col(vec_col)), vec_col, "cell"
        )
        c.write.mode("overwrite").partitionBy("cell").parquet(path)

    def probe_cells_local(self, vec: list[float]) -> list[int]:
        """Driver-side nprobe-nearest cells for one query vector (query
        batches at serving time are tiny; the corpus is what's at scale)."""
        import numpy as np

        ctrs = np.array([list(map(float, c)) for c in self._model.clusterCenters()])
        d = ((ctrs - np.asarray(vec, dtype="float64")) ** 2).sum(axis=1)
        return [int(i) for i in np.argsort(d, kind="stable")[: self.nprobe]]

    def topk_partitioned(
        self,
        spark,
        path: str,
        queries: list[tuple],
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        k: int = 5,
    ) -> DataFrame:
        """Exact top-k against a cell-partitioned corpus: the ``cell IN
        (...)`` predicate is a PARTITION filter, so the scan reads only the
        probed cells' files — demonstrated by plan assertion in
        tests/test_scale_posture.py::test_ivf_partition_pruning.

        ``queries``: [(query_id, vector)] — small, shipped as literals.
        """
        probe = {qid: self.probe_cells_local(vec) for qid, vec in queries}
        all_cells = sorted({c for cells in probe.values() for c in cells})
        scan = spark.read.parquet(path).filter(F.col("cell").isin(all_cells))
        qdf = spark.createDataFrame(
            [(qid, list(map(float, vec)), probe[qid]) for qid, vec in queries],
            "query_id long, q_vec array<double>, q_cells array<int>",
        )
        cand = (
            scan.withColumnRenamed(id_col, "neighbor_id")
            .withColumnRenamed(vec_col, "c_vec")
            .join(
                F.broadcast(qdf),
                F.array_contains(F.col("q_cells"), F.col("cell")),
            )
            .filter(F.col("query_id") != F.col("neighbor_id"))
        )
        scored = cand.withColumn("cosine", cosine_exact("q_vec", "c_vec"))
        w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cosine", "rank")
        )


class PQIndex:
    """Product quantization (X4 third scale path — the memory-bound one).

    A D-dim float vector (D×8 bytes) compresses to ``m`` one-byte-ish
    codes: the vector is split into ``m`` subvectors, each mapped to its
    nearest centroid in a per-subspace codebook of ``k_codes`` entries
    (trained with seeded Lloyd's iterations on a bounded sample). Search
    uses ADC (asymmetric distance computation): per query, an m×k_codes
    lookup table of partial squared L2 distances is built once, and each
    corpus row's approximate distance is ``sum_j LUT[j][code_j]`` — a pure
    table-lookup scan, no float math per dimension.

    Why this is the 100 TB shape: the scan reads the CODES column
    (m bytes/row) instead of the embedding (D×8 bytes/row) — a 64×
    I/O + memory reduction at (D=64, m=8) — and the ADC sum runs
    JVM-side via ``F.aggregate`` over the broadcast LUT, whole-stage
    codegen'd, no Python in the per-row path. ``rerank`` re-scores the
    top ADC candidates with exact distances (the standard two-stage
    recipe) so recall approaches exact search while the exact pass
    touches only candidates.

    Training is driver-side numpy on ≤ ``sample`` vectors — codebook size
    is O(m·k_codes·D/m) floats regardless of corpus scale, and a bounded
    sample is how FAISS-style systems train too.
    """

    def __init__(
        self,
        m: int = 16,
        k_codes: int = 64,
        seed: int = 42,
        iters: int = 10,
        sample: int = 4096,
    ) -> None:
        self.m, self.k_codes, self.seed, self.iters = m, k_codes, seed, iters
        self.sample = sample
        self._codebooks = None  # list[np.ndarray k_codes × D/m]

    def fit(
        self, corpus: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
    ) -> "PQIndex":
        import numpy as np

        rows = (
            corpus.select(F.col(id_col), F.col(vec_col))
            .sort(id_col)  # deterministic sample for a fixed corpus
            .limit(self.sample)
            .collect()
        )
        X = np.array([r[1] for r in rows], dtype="float64")
        d = X.shape[1]
        if d % self.m:
            raise ValueError(f"dim {d} not divisible by m={self.m}")
        # A codebook can't have more entries than training vectors.
        self.k_codes = min(self.k_codes, len(X))
        sub = d // self.m
        self._codebooks = []
        for j in range(self.m):
            Xj = X[:, j * sub : (j + 1) * sub]
            rng = np.random.RandomState(self.seed + j)
            centers = Xj[rng.choice(len(Xj), size=self.k_codes, replace=False)].copy()
            for _ in range(self.iters):
                dist = ((Xj[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
                assign = dist.argmin(axis=1)
                for c in range(self.k_codes):
                    mask = assign == c
                    if mask.any():
                        centers[c] = Xj[mask].mean(axis=0)
            self._codebooks.append(centers)
        return self

    def encode(self, df: DataFrame, vec_col: str = "embedding") -> DataFrame:
        """Add a ``codes`` column (array<int>, length m) — the distributed
        Arrow-batched compression pass; the codebooks ship in the closure
        (m·k_codes·D/m floats, tiny)."""
        import numpy as np

        books = [b.copy() for b in self._codebooks]
        sub = books[0].shape[1]
        m = self.m

        @F.pandas_udf("array<int>")
        def pq_encode(vecs):
            import pandas as pd

            out = []
            for v in vecs:
                x = np.asarray(v, dtype="float64")
                code = [
                    int(
                        (((x[j * sub : (j + 1) * sub] - books[j]) ** 2).sum(axis=1))
                        .argmin()
                    )
                    for j in range(m)
                ]
                out.append(code)
            return pd.Series(out)

        return df.withColumn("codes", pq_encode(F.col(vec_col)))

    def _lut(self, vec) -> list[float]:
        """Flat m·k_codes LUT of partial squared distances for one query."""
        import numpy as np

        x = np.asarray(vec, dtype="float64")
        sub = self._codebooks[0].shape[1]
        flat: list[float] = []
        for j in range(self.m):
            q = x[j * sub : (j + 1) * sub]
            flat.extend(float(v) for v in ((self._codebooks[j] - q) ** 2).sum(axis=1))
        return flat

    def topk(
        self,
        corpus: DataFrame,
        queries: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        k: int = 5,
        rerank: int = 0,
    ) -> DataFrame:
        """ANN top-k by ADC over PQ codes; ``rerank > 0`` re-scores that
        many ADC candidates per query with exact L2 (two-stage search).

        Output: (query_id, neighbor_id, approx_dist, rank) — or exact
        ``dist`` instead of ``approx_dist`` when reranking.
        """
        codes = self.encode(
            corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col)),
            vec_col,
        ).select("neighbor_id", "codes")
        # Query batches are small at serving time; LUTs are built driver-
        # side and broadcast (same posture as topk_partitioned above).
        q_rows = queries.select(F.col(id_col), F.col(vec_col)).collect()
        kc = self.k_codes
        qdf = F.broadcast(
            corpus.sparkSession.createDataFrame(
                [(int(r[0]), self._lut(r[1])) for r in q_rows],
                "query_id long, lut array<double>",
            )
        )
        adc = (
            codes.join(qdf)
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .withColumn(
                "approx_dist",
                F.aggregate(
                    F.sequence(F.lit(0), F.lit(self.m - 1)),
                    F.lit(0.0),
                    lambda acc, j: acc
                    + F.element_at(
                        F.col("lut"), (j * kc + F.element_at(F.col("codes"), j + 1) + 1)
                    ),
                ),
            )
            .select("query_id", "neighbor_id", "approx_dist")
        )
        w = Window.partitionBy("query_id").orderBy("approx_dist", "neighbor_id")
        if not rerank:
            return (
                adc.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= k)
                .select("query_id", "neighbor_id", "approx_dist", "rank")
            )
        cand = (
            adc.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= rerank)
            .select("query_id", "neighbor_id")
        )
        q_full = F.broadcast(
            queries.select(
                F.col(id_col).alias("query_id"),
                F.col(vec_col).alias("q_vec"),
                sqnorm_exact(vec_col).alias("q_sq"),
            )
        )
        c_full = corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("c_vec"),
            sqnorm_exact(vec_col).alias("c_sq"),
        )
        # ||q−c||² = ||q||² − 2·q·c + ||c||², every term an exact-decimal
        # sum — bit-deterministic under any partitioning (and matchable by
        # a SQL oracle computing the same three sums).
        exact = (
            cand.join(q_full, "query_id")
            .join(c_full, "neighbor_id")
            .withColumn(
                "dist",
                (F.col("q_sq") - F.lit(2.0) * dot_exact("q_vec", "c_vec"))
                + F.col("c_sq"),
            )
        )
        w2 = Window.partitionBy("query_id").orderBy("dist", "neighbor_id")
        return (
            exact.withColumn("rank", F.row_number().over(w2))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "dist", "rank")
        )


def ml_brp_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    bucket_length: float = 2.0,
    num_tables: int = 3,
    seed: int = 42,
) -> DataFrame:
    """spark.ml BucketedRandomProjectionLSH (Euclidean) top-k via
    approxSimilarityJoin — library-native X4 alternative."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    c = corpus.select(
        F.col(id_col).alias("cid"), array_to_vector(F.col(vec_col)).alias("features")
    )
    q = queries.select(
        F.col(id_col).alias("qid"), array_to_vector(F.col(vec_col)).alias("features")
    )
    model = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=bucket_length,
        numHashTables=num_tables,
        seed=seed,
    ).fit(c)
    joined = (
        model.approxSimilarityJoin(q, c, float("inf"), distCol="dist")
        .select(
            F.col("datasetA.qid").alias("query_id"),
            F.col("datasetB.cid").alias("neighbor_id"),
            F.col("dist"),
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    w = Window.partitionBy("query_id").orderBy("dist", "neighbor_id")
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
