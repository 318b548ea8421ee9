"""Deduplication operators at training-data scale (X1, X2; SURVEY.md §2.C).

Four tiers, cheapest first — the standard LLM-corpus dedup ladder:

1. **Exact** — keep-first per md5 of the normalized text, one window
   over the key (inline in the queries, e.g. ``q_dedup_exact``): one
   shuffle on the key; at 100 TB this is a plain aggregate.
2. **Near-dup via MinHash + LSH banding** (``minhash_signatures``,
   ``banded_signatures``, ``lsh_candidate_pairs``): shingle → k
   minhashes → b bands of r rows → bucket-join. Only documents sharing a
   band bucket are compared, so the candidate join is linear-ish in
   corpus size instead of O(n²).
3. **SimHash** (``simhash``): 32-bit sign-aggregated token hashes; near
   dups are pairs within small Hamming distance (bit_count(xor)).
4. **Exact n-gram Jaccard** (``jaccard_pairs``) — the expensive verifier
   run only on LSH candidates (or small corpora as its own oracle).

All hashing routes through ``textops.hash64`` (md5-based) so every stage
is deterministic AND reproducible in the DuckDB oracle — no Spark-private
hash functions in semantics-bearing positions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mini_etl_project_spark.operators.textops import char_shingles, hash64


def shingle_rows(df: DataFrame, id_col: str, text_col: str, k: int = 5) -> DataFrame:
    """(id, shingle) pairs — distinct character k-shingles per document."""
    from mini_etl_project_spark.session import ensure_parallelism

    # Shingling + hashing is the map-side hot path; don't let a single
    # row-group input serialize it (no-op at scale).
    df = ensure_parallelism(df)
    return df.select(
        F.col(id_col).alias("id"),
        F.explode(char_shingles(text_col, k)).alias("shingle"),
    )


def minhash_signatures(
    shingles: DataFrame, num_hashes: int = 16
) -> DataFrame:
    """(id, minhashes): the k per-seed minhashes as one array, ONE groupBy.

    Each minhash is a min-aggregate column over the same (id, shingle)
    rows — no seed explode, so the map side evaluates k hashes per shingle
    in place and the shuffle carries k partial mins per (id, partition)
    instead of k× the shingle rows. Hash values are identical to the
    per-seed formulation (``hash64(shingle, seed)``), so the DuckDB oracle
    reproduces them bit-for-bit.
    """
    return shingles.groupBy("id").agg(
        F.array(*[F.min(hash64("shingle", s)) for s in range(num_hashes)]).alias(
            "minhashes"
        )
    )


def banded_signatures(sigs: DataFrame, rows_per_band: int = 4) -> DataFrame:
    """(id, band, band_key) rows from (id, minhashes) signatures.

    Banding is a pure projection over the signature array: band ``b`` is
    the slice of ``rows_per_band`` consecutive minhashes starting at
    ``b * rows_per_band`` (array order = seed order), and its key is the
    md5 of the comma-joined slice — bit-identical to the oracles'
    ``string_agg``/md5 banding. One explode yields one row per band.
    """
    nb = (F.size("minhashes") / rows_per_band).cast("int")
    bands = F.transform(
        F.sequence(F.lit(0), nb - 1),
        lambda b: F.struct(
            b.alias("band"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.slice(
                            F.col("minhashes"), b * rows_per_band + 1, rows_per_band
                        ),
                        lambda m: m.cast("string"),
                    ),
                    ",",
                )
            ).alias("band_key"),
        ),
    )
    return sigs.select("id", F.explode(bands).alias("bk")).select(
        "id", F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key")
    )


def lsh_candidate_pairs(
    signatures: DataFrame, rows_per_band: int = 4
) -> DataFrame:
    """X2: band the signature and bucket-join — (id_a, id_b) candidate
    pairs (a < b) sharing at least one band bucket.

    The self-join is on (band, band_key) — tiny buckets, no O(n²) blowup.
    """
    banded = banded_signatures(signatures, rows_per_band)
    a = banded.select("band", "band_key", F.col("id").alias("id_a"))
    b = banded.select("band", "band_key", F.col("id").alias("id_b"))
    return (
        a.join(b, ["band", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def jaccard_pairs(
    shingles: DataFrame,
    candidates: DataFrame | None = None,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact Jaccard similarity per pair: |A∩B| / (|A|+|B|−|A∩B|).

    With ``candidates`` given (the LSH output), the shingle join is
    restricted to candidate pairs — the scale path. Without it, all pairs
    sharing ≥1 shingle are scored (small-corpus oracle mode).
    """
    sizes = shingles.groupBy("id").agg(F.count("*").alias("n"))
    a = shingles.select(F.col("id").alias("id_a"), "shingle")
    b = shingles.select(F.col("id").alias("id_b"), "shingle")
    if candidates is not None:
        # Restrict BEFORE the shingle join: expand each candidate pair by
        # id_a's shingles, then equi-join on (id_b, shingle). Work is
        # |candidates| × shingles-per-doc — never the all-pairs blowup of
        # joining on raw shingle (common shingles make that bucket² and
        # it OOMs long before 100 TB; measured at sf0.1 already).
        inter = (
            candidates.join(a, "id_a")
            .join(b, ["id_b", "shingle"])
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("n_inter"))
        )
    else:
        # Small-corpus oracle mode: all pairs sharing ≥1 shingle.
        inter = (
            a.join(b, "shingle")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("n_inter"))
        )
    out = (
        inter.join(sizes.withColumnsRenamed({"id": "id_a", "n": "n_a"}), "id_a")
        .join(sizes.withColumnsRenamed({"id": "id_b", "n": "n_b"}), "id_b")
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out.select("id_a", "id_b", "n_inter", "n_a", "n_b", "jaccard")


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 32) -> DataFrame:
    """X2 variant: 32-bit SimHash per document.

    Token-hash sign aggregation: bit j of the fingerprint is 1 iff the
    sum over tokens of ±1 (per bit j of each token's hash) is positive.
    One explode + one groupBy; md5-derived hashes keep it oracle-portable.
    """
    from mini_etl_project_spark.session import ensure_parallelism

    df = ensure_parallelism(df)
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("tok"),
    ).withColumn("h", hash64("tok", 0))
    bit_sums = toks.groupBy("id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1)
                .otherwise(-1)
            ).alias(f"b{j}")
            for j in range(bits)
        ]
    )
    fp = None
    for j in range(bits):
        term = F.when(F.col(f"b{j}") > 0, F.lit(2**j).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        fp = term if fp is None else fp + term
    return bit_sums.select("id", fp.alias("simhash"))


def ml_minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    num_hashes: int = 16,
    jaccard_distance_threshold: float = 0.5,
    seed: int = 42,
) -> DataFrame:
    """X2, library-native alternative: spark.ml MinHashLSH
    ``approxSimilarityJoin`` over hashed shingle vectors.

    Kept alongside the expression-based pipeline above because the ml
    implementation's hash family is Spark-private (not oracle-checkable);
    tests compare its candidate pairs against the portable pipeline's.
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    shingled = df.select(
        F.col(id_col).alias("id"), char_shingles(text_col, k).alias("shingles")
    ).filter(F.size("shingles") > 0)
    tf = HashingTF(
        inputCol="shingles", outputCol="features", numFeatures=1 << 18, binary=True
    )
    feats = tf.transform(shingled)
    model = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=num_hashes, seed=seed
    ).fit(feats)
    joined = model.approxSimilarityJoin(
        feats, feats, jaccard_distance_threshold, distCol="jaccard_dist"
    )
    return (
        joined.select(
            F.col("datasetA.id").alias("id_a"),
            F.col("datasetB.id").alias("id_b"),
            F.col("jaccard_dist"),
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .distinct()
    )


def connected_components(
    pairs: DataFrame,
    max_iter: int = 20,
) -> DataFrame:
    """Collapse near-dup pairs into clusters: (id, component) where
    component is the minimum id reachable through the pair graph.

    Iterative min-label propagation with GROUP-MIN BROADCAST and PATH
    COMPRESSION per round:

    1. neighbor-min: each node takes the min over its neighbors' labels
       (the classic 1-hop step);
    2. group-min: every member of a tentative component (nodes sharing
       the same pre-round label) adopts the best label ANY member found
       this round — one groupBy + join, so a clique-shaped dup cluster
       collapses in a single round instead of crawling hop by hop;
    3. compression: jump to the label's (post-step) label, doubling
       reach along chain-shaped clusters.

    All three updates take mins of labels that are ids of in-component
    nodes, so labels decrease monotonically toward the component minimum
    and the fixpoint is exact. Measured on the sf0.1 SemDeDup edge set
    (2.6k directed edges): 14 rounds -> 5 rounds, 7.3 s -> 2.8 s — the
    per-round cost is the scheduling barrier, not the data, and the same
    barrier is a full shuffle stage on a real cluster. ONE action per
    round: the convergence signal rides an ``observe`` on the checkpoint
    materialization itself, so there is no separate "did anything
    change" job. ``localCheckpoint`` per round truncates the
    exponentially-growing lineage (standard for iterative Spark
    algorithms).
    """
    from pyspark.sql import Observation

    # Materialize the edge set ONCE. Without this, every fixpoint round
    # re-executes the caller's full upstream plan (for q_dedup_semantic
    # that is the LSH bucketing + cosine pipeline — measured 141 s at
    # sf0.1, dominated entirely by per-round recomputation; 16 s after).
    # localCheckpoint also cuts the caller's lineage out of the loop.
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
    )
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges["dst"] == labels["id"])
            .groupBy("src")
            .agg(F.min("component").alias("nbr_comp"))
        )
        stepped = (
            labels.withColumnRenamed("component", "old_component")
            .join(neighbor_min, F.col("id") == F.col("src"), "left")
            .select(
                "id",
                "old_component",
                F.least(
                    F.col("old_component"),
                    F.coalesce(F.col("nbr_comp"), F.col("old_component")),
                ).alias("nmin"),
            )
        )
        # Group-min broadcast: nodes sharing a pre-round label are
        # already known to be in one component, so the best label any
        # of them found this round is valid for all of them.
        gmin = stepped.groupBy(F.col("old_component").alias("gc")).agg(
            F.min("nmin").alias("gmin")
        )
        merged = stepped.join(
            gmin, F.col("old_component") == F.col("gc")
        ).select(
            "id",
            "old_component",
            F.least("nmin", "gmin").alias("component"),
        )
        # Path compression: a component label is itself a node id, so
        # jump to THAT node's (post-step) label. Inner join is safe —
        # every label is present in `merged.id`.
        comp_map = merged.select(
            F.col("id").alias("cid"), F.col("component").alias("ccomp")
        )
        compressed = merged.join(
            comp_map, F.col("component") == F.col("cid")
        ).select("id", "old_component", F.col("ccomp").alias("component"))
        obs = Observation()
        observed = compressed.observe(
            obs,
            F.sum((F.col("component") != F.col("old_component")).cast("long")).alias(
                "changed"
            ),
        )
        labels = observed.select("id", "component").localCheckpoint(eager=True)
        if not obs.get["changed"]:
            break
    return labels


def prefix_filter_pairs(
    shingles: DataFrame, threshold: float = 0.5
) -> DataFrame:
    """AllPairs/PPJoin-style prefix-filtered candidate pairs (a < b).

    Exact (non-probabilistic) alternative to LSH banding for set-similarity
    self-joins: order each document's elements by a global canonical order
    (ascending document frequency, ties by value — rarest first), keep only
    the first ``|A| - ceil(t*|A|) + 1`` elements, and join on those. Any
    pair with Jaccard >= t must share its globally-smallest common element
    inside BOTH prefixes (Bayardo et al., WWW'07), so the filter is
    lossless: verification of candidates with exact Jaccard returns the
    same pairs brute force would.

    Scale posture: the join touches prefix rows only (~(1-t) of the
    shingle rows), and rare-first ordering makes prefix buckets small —
    hot shingles land in prefixes only for documents where nothing rarer
    exists. A length filter (``t*max(|A|,|B|) <= min``) prunes candidates
    before the distinct. Input is ``(id, shingle)`` rows from
    :func:`shingle_rows`.
    """
    sizes = shingles.groupBy("id").agg(F.count("*").alias("n"))
    doc_freq = shingles.groupBy("shingle").agg(F.count("*").alias("df"))
    w = Window.partitionBy("id").orderBy(F.col("df").asc(), F.col("shingle").asc())
    prefix = (
        shingles.join(doc_freq, "shingle")
        .withColumn("pos", F.row_number().over(w))
        .join(sizes, "id")
        .filter(
            # epsilon inside the ceil: when n*t is mathematically integral
            # but the double product rounds UP (e.g. 20*0.55 →
            # 11.000000000000002), an unguarded ceil would shrink the
            # prefix by one element and silently drop true pairs; the
            # epsilon can only lengthen the prefix (lossless direction)
            F.col("pos")
            <= F.col("n")
            - F.ceil(F.col("n") * F.lit(threshold) - F.lit(1e-9))
            + 1
        )
        .select("id", "shingle", "n")
    )
    a = prefix.select(F.col("id").alias("id_a"), "shingle", F.col("n").alias("n_a"))
    b = prefix.select(F.col("id").alias("id_b"), "shingle", F.col("n").alias("n_b"))
    # Length filter: J >= t implies t*max(|A|,|B|) <= min(|A|,|B|); the
    # epsilon keeps the bound conservative under float rounding (pruning
    # must stay lossless — candidates are exactly verified afterwards).
    fits = (
        F.least("n_a", "n_b").cast("double")
        >= F.greatest("n_a", "n_b") * F.lit(threshold) - F.lit(1e-9)
    )
    return (
        a.join(b, "shingle")
        .filter((F.col("id_a") < F.col("id_b")) & fits)
        .select("id_a", "id_b")
        .distinct()
    )
