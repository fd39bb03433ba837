"""Similarity search over embedding columns (task brief).

- ``cosine_topk``: brute-force exact top-k. The query side is small and
  explicitly ``broadcast()`` — the corpus is never shuffled; cosine is
  computed with JVM higher-order functions (zip_with + aggregate), no
  Python in the scan.
- ``lsh_ann_topk``: random-hyperplane LSH scale path. Hyperplanes are
  generated once on the driver from a fixed seed and inlined as
  literals; candidates = corpus rows sharing a bucket in any of
  ``num_tables`` tables (join on bucket key), then exact cosine re-rank
  within candidates. At 100 TB the bucket join replaces the full scan
  per query batch.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import Column, DataFrame


def _dot(a, b) -> "Column":
    from pyspark.sql import functions as F

    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a) -> "Column":
    from pyspark.sql import functions as F

    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_similarity(a, b) -> "Column":
    # r6 perf note: an unrolled fixed-dim variant (explicit
    # a[0]*b[0]+...+a[d-1]*b[d-1], same fold order) was tried and
    # REVERTED — the ~200-node literal chain drops consuming stages
    # out of whole-stage codegen, and interpreted evaluation of the
    # deep Add tree is ~7x SLOWER per call than this higher-order
    # fold (measured on the semantic_dedup pair stage: 12s -> 56s at
    # sf0.1). Keep the HOF form.
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk(
    queries: "DataFrame",
    corpus: "DataFrame",
    k: int = 3,
    q_id: str = "vec_id",
    q_vec: str = "embedding",
    c_id: str = "vec_id",
    c_vec: str = "embedding",
) -> "DataFrame":
    """Exact brute-force top-k: broadcast the (small) query set against
    the corpus, rank by (rounded cosine desc, candidate id asc).

    Rounding to 4 decimals before ranking pins the ordering across
    engines/float-fold orders (oracle comparability)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    q = queries.select(
        F.col(q_id).alias("query_id"), F.col(q_vec).alias("_qv")
    )
    c = corpus.select(
        F.col(c_id).alias("candidate_id"), F.col(c_vec).alias("_cv")
    )
    from html_to_document_spark.operators.text_analysis import r4

    scored = c.join(F.broadcast(q), F.col("query_id") != F.col("candidate_id")).select(
        "query_id",
        "candidate_id",
        r4(cosine_similarity(F.col("_qv"), F.col("_cv"))).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("candidate_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "candidate_id", "cosine")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    import numpy as np

    rng = np.random.RandomState(seed)
    return rng.standard_normal((n_planes, dim)).round(6).tolist()


def _bucket_expr(vec_col, planes) -> "Column":
    """Sign-bit bucket id for one LSH table (JVM-side fold)."""
    from pyspark.sql import functions as F

    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        lit_plane = F.array(*[F.lit(float(w)) for w in plane])
        bit = F.when(_dot(vec_col, lit_plane) >= 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        bucket = bucket.bitwiseXOR(F.shiftleft(bit, i))
    return bucket


def embedding_near_dup_pairs(
    corpus: "DataFrame",
    threshold: float = 0.95,
    dim: int = 64,
    bits_per_table: int = 8,
    num_tables: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_cap: int | None = 128,
) -> "DataFrame":
    """Embedding-cosine near-duplicate pairs (dedup mode): LSH-bucket
    candidate join within the corpus, exact cosine verification, keep
    pairs with cosine >= threshold. Returns (id_a, id_b, cosine),
    id_a < id_b. High thresholds pair with more hyperplane bits (tight
    buckets); the shuffles are the bucket equi-join and the dedup of
    pairs found in several tables.

    ``bucket_cap``: the hot-bucket cap of
    :func:`~html_to_document_spark.operators.dedup.bucket_pairs` on the
    ``(table_id, bucket)`` buckets (e.g. a cluster of near-identical
    embeddings from templated pages); None disables it."""
    from pyspark.sql import functions as F

    from html_to_document_spark.operators.dedup import bucket_pairs
    from html_to_document_spark.operators.text_analysis import r4

    tables = [
        _hyperplanes(dim, bits_per_table, seed + 1000 * t)
        for t in range(num_tables)
    ]
    base = corpus.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    bucketed = base.select(
        "_id",
        "_v",
        F.posexplode(
            F.array(*[_bucket_expr(F.col("_v"), planes) for planes in tables])
        ).alias("table_id", "bucket"),
    )
    # score before dropping the pairs found in several tables: the
    # cosine is a function of the two ids, so the dedup then groups
    # three primitive columns (a hash aggregate) instead of carrying
    # both vectors through first()
    return (
        bucket_pairs(
            bucketed, ["table_id", "bucket"], bucket_cap, payload="_v"
        )
        .select(
            "id_a",
            "id_b",
            r4(cosine_similarity(F.col("_pa"), F.col("_pb"))).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
        .dropDuplicates()
    )


def lsh_ann_topk(
    queries: "DataFrame",
    corpus: "DataFrame",
    k: int = 3,
    dim: int = 64,
    bits_per_table: int = 8,
    num_tables: int = 4,
    seed: int = 42,
    q_id: str = "vec_id",
    q_vec: str = "embedding",
    c_id: str = "vec_id",
    c_vec: str = "embedding",
) -> "DataFrame":
    """Approximate top-k: random-hyperplane buckets -> candidate join ->
    exact cosine re-rank. Recall tested against cosine_topk."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    tables = [
        _hyperplanes(dim, bits_per_table, seed + 1000 * t)
        for t in range(num_tables)
    ]

    def with_buckets(df, id_alias, vec_alias, id_col, vec_col):
        out = df.select(
            F.col(id_col).alias(id_alias), F.col(vec_col).alias(vec_alias)
        )
        return out.select(
            id_alias,
            vec_alias,
            F.posexplode(
                F.array(
                    *[_bucket_expr(F.col(vec_alias), planes) for planes in tables]
                )
            ).alias("table_id", "bucket"),
        )

    qb = with_buckets(queries, "query_id", "_qv", q_id, q_vec)
    cb = with_buckets(corpus, "candidate_id", "_cv", c_id, c_vec)

    candidates = (
        cb.join(
            F.broadcast(qb),
            (qb.table_id == cb.table_id)
            & (qb.bucket == cb.bucket)
            & (F.col("query_id") != F.col("candidate_id")),
        )
        .select("query_id", "candidate_id", "_qv", "_cv")
        .dropDuplicates(["query_id", "candidate_id"])
    )
    from html_to_document_spark.operators.text_analysis import r4

    scored = candidates.select(
        "query_id",
        "candidate_id",
        r4(cosine_similarity(F.col("_qv"), F.col("_cv"))).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("candidate_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "candidate_id", "cosine")
    )


def ivf_ann_topk(
    queries: "DataFrame",
    corpus: "DataFrame",
    k: int = 3,
    n_cells: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    q_id: str = "vec_id",
    q_vec: str = "embedding",
    c_id: str = "vec_id",
    c_vec: str = "embedding",
    fit_fraction: float = 1.0,
    centroids: list | None = None,
) -> "DataFrame":
    """IVF (inverted-file) ANN: coarse-quantize the corpus into
    ``n_cells`` KMeans cells, probe the ``n_probe`` nearest cells per
    query, exact cosine re-rank inside the probed cells only.

    ``centroids``: literal cell centers (list of dim-length lists)
    that SKIP the KMeans fit; corpus assignment then uses the same
    inlined squared-euclidean argmin the query probing uses (ties to
    the lowest cell index), so assignment is a pure JVM expression
    and — because an exact-copy vector provably lands in its
    original's argmin cell — the operator has a value-oracle-able
    recall band (mirrored corpora; see the ann_approx_topk gate row).
    The KMeans mode's recall stays pytest-gated.

    Scale shape (100 TB thinking):
    - the KMeans fit runs on Spark MLlib (distributed); ``fit_fraction``
      < 1 fits the coarse quantizer on a seeded sample — at 100 TB use
      ~0.01 so the fit is not an extra full corpus pass (the cell
      assignment below is a full pass regardless, and a quantizer fit
      on 1% of a web corpus places near-identical centroids);
    - centroids are tiny (n_cells x dim) and travel as inlined literals
      — query->cell routing is pure JVM expressions, no Python;
    - the candidate join is an equi-join on ``cell`` (bucket join, same
      shuffle shape as the LSH path), never an all-pairs scan;
    - recall/latency trade via n_probe (tested against cosine_topk).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from html_to_document_spark.operators.text_analysis import r4

    def sqdist(vec_col, centroid):
        lit = F.array(*[F.lit(float(x)) for x in centroid])
        return F.aggregate(
            F.zip_with(vec_col, lit,
                       lambda a, b: (a.cast("double") - b)
                       * (a.cast("double") - b)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    if centroids is None:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        # 1. coarse quantizer (seeded => deterministic)
        train = corpus
        if fit_fraction < 1.0:
            train = train.sample(fraction=fit_fraction, seed=seed)
        train = train.select(array_to_vector(F.col(c_vec)).alias("features"))
        model = KMeans(k=n_cells, seed=seed, maxIter=20).fit(train)
        centroids = [list(map(float, c)) for c in model.clusterCenters()]

        # 2. corpus cell assignment (JVM transform on the fitted model)
        assigned = (
            model.transform(
                corpus.select(
                    F.col(c_id).alias("candidate_id"),
                    F.col(c_vec).alias("_cv"),
                    array_to_vector(F.col(c_vec)).alias("features"),
                )
            )
            .select("candidate_id", "_cv", F.col("prediction").alias("cell"))
        )
    else:
        if len(centroids) != n_cells:
            raise ValueError(
                f"{len(centroids)} literal centroids but n_cells={n_cells}"
            )
        # 2'. literal-centroid assignment: the same inlined sq-euclid
        # argmin the probing step uses (ties -> lowest cell index) —
        # pure JVM expressions, no MLlib, no fit pass, and NO shuffle:
        # array_position(min) is a per-row projection, where a
        # partitionBy(candidate_id) window would both shuffle the
        # whole corpus and silently collapse duplicate-id rows the
        # KMeans branch keeps (review r5)
        dist_arr = F.array(*[sqdist(F.col("_cv"), c) for c in centroids])
        assigned = corpus.select(
            F.col(c_id).alias("candidate_id"), F.col(c_vec).alias("_cv")
        ).select(
            "candidate_id",
            "_cv",
            (F.array_position(dist_arr, F.array_min(dist_arr)) - 1)
            .cast("int").alias("cell"),
        )

    # 3. query -> n_probe nearest cells via inlined centroid literals
    #    (squared euclidean to each centroid, rank, keep n_probe)

    q = queries.select(F.col(q_id).alias("query_id"), F.col(q_vec).alias("_qv"))
    probed = q.select(
        "query_id",
        "_qv",
        F.posexplode(
            F.array(*[sqdist(F.col("_qv"), c) for c in centroids])
        ).alias("cell", "_d2"),
    )
    wq = Window.partitionBy("query_id").orderBy(F.asc("_d2"), F.asc("cell"))
    probed = (
        probed.withColumn("_pr", F.row_number().over(wq))
        .filter(F.col("_pr") <= n_probe)
        .select("query_id", "_qv", "cell")
    )

    # 4. candidate generation: bucket equi-join on cell, exact re-rank
    candidates = (
        assigned.join(
            F.broadcast(probed),
            (assigned.cell == probed.cell)
            & (F.col("query_id") != F.col("candidate_id")),
        )
        .select("query_id", "candidate_id", "_qv", "_cv")
        .dropDuplicates(["query_id", "candidate_id"])
    )
    scored = candidates.select(
        "query_id",
        "candidate_id",
        r4(cosine_similarity(F.col("_qv"), F.col("_cv"))).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("candidate_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "candidate_id", "cosine")
    )
