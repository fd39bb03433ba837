import pytest
from pyspark.sql import functions as F

from html_to_document_spark.operators.dedup import (
    exact_dedup,
    exact_dedup_groups,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash,
    simhash_near_pairs,
)
from html_to_document_spark.operators.similarity import (
    embedding_near_dup_pairs,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the spark engine "
    "shuffles partitions across the cluster with arrow batches"
)
NEAR = BASE.replace("lazy", "sleepy")  # one-word edit => high jaccard
FAR = "completely different content about tables and lists and images here"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(1, BASE), (2, BASE), (3, NEAR), (4, FAR), (5, FAR + " extra")],
        "doc_id long, text string",
    )


def test_exact_dedup(spark, docs):
    kept = exact_dedup(docs)
    assert kept.count() == 4
    assert {r.doc_id for r in kept.collect()} == {1, 3, 4, 5}
    groups = {r.keeper_id: r.n_dups for r in exact_dedup_groups(docs).collect()}
    assert groups[1] == 2


def test_minhash_lsh_finds_planted_near_dup(spark, docs):
    pairs = {(r.id_a, r.id_b): r.est_jaccard
             for r in minhash_lsh_pairs(docs, threshold=0.35).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0  # exact dup
    assert (1, 3) in pairs  # planted near-dup
    assert (1, 4) not in pairs and (2, 4) not in pairs


def test_ngram_jaccard(spark, docs):
    pairs = {(r.id_a, r.id_b): r.jaccard
             for r in ngram_jaccard_pairs(docs, threshold=0.3).collect()}
    assert pairs[(1, 2)] == 1.0
    assert 0.3 <= pairs[(1, 3)] < 1.0


def test_simhash_near_pairs(spark, docs):
    sims = {r.doc_id: r.simhash for r in simhash(docs).collect()}
    assert sims[1] == sims[2]
    pairs = {(r.id_a, r.id_b): r.hamming
             for r in simhash_near_pairs(docs, max_hamming=8).collect()}
    assert pairs[(1, 2)] == 0
    assert (1, 3) in pairs  # near-dup within small hamming radius
    assert (1, 4) not in pairs


def test_minhash_signature_positions_independent(spark, docs):
    """Regression: sibling higher-order lambdas over the same input
    array got canonicalized together by the analyzer (all 64 minhash
    positions collapsed to one value). The exploded implementation must
    match an independent per-seed SQL computation."""
    from html_to_document_spark.operators.dedup import (
        minhash_signature,
        word_shingles,
    )

    sigs = {r.doc_id: r.minhash for r in minhash_signature(docs).collect()}
    assert all(len(set(sig)) > 1 for sig in sigs.values())
    docs.select(
        "doc_id", F.explode(word_shingles(F.col("text"), 3)).alias("s")
    ).createOrReplaceTempView("_sh_check")
    for j in (0, 7, 63):
        rows = spark.sql(
            f"select doc_id, min(xxhash64(s, {j})) m from _sh_check group by doc_id"
        ).collect()
        assert all(sigs[r.doc_id][j] == r.m for r in rows)


def test_connected_components_chain_and_clique(spark):
    """A 4-chain (found only as consecutive pairs) and a separate
    3-clique each collapse to one component."""
    from html_to_document_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),        # chain 1-2-3-4
         (10, 11), (10, 12), (11, 12)], # clique 10-11-12
        "id_a long, id_b long",
    )
    comp = {r.id: r.component for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10}


def test_dedup_clusters_end_to_end(spark):
    """Planted triplicates cluster to the min id; unique docs are
    singleton representatives."""
    from pyspark.sql import functions as F
    from html_to_document_spark.operators.dedup import dedup_clusters

    base = spark.createDataFrame(
        [(i, f"totally unique document number {i} " * 5 + f"tail {i}")
         for i in range(20)],
        "doc_id long, text string",
    )
    dups = base.filter(F.col("doc_id") < 3)
    corpus = base.unionByName(
        dups.select((F.col("doc_id") + 100).alias("doc_id"), "text")
    ).unionByName(dups.select((F.col("doc_id") + 200).alias("doc_id"), "text"))

    out = {r.doc_id: r for r in
           dedup_clusters(corpus, threshold=0.9).collect()}
    assert len(out) == 26
    for i in range(3):
        assert out[i].component == i and out[i].is_representative
        assert out[i + 100].component == i and not out[i + 100].is_representative
        assert out[i + 200].component == i
    for i in range(3, 20):
        assert out[i].component == i and out[i].is_representative


def test_word_shingles_linear_time_canary(spark):
    """Perf regression guard (round-2 find): an expression referenced
    inside a HOF lambda is re-evaluated per element — the unbound form
    of word_shingles was O(words^2) and took >240s for ONE 200k-word
    row. The let-bound form runs in ~1s; 60s is pure headroom for host
    noise, not a tight bound."""
    import time

    from pyspark.sql import functions as F
    from html_to_document_spark.operators.dedup import word_shingles

    text = " ".join(f"w{i % 5000}" for i in range(200_000))
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    t0 = time.time()
    n = df.select(
        F.size(word_shingles(F.col("text"), 3)).alias("k")
    ).first().k
    assert n > 0
    assert time.time() - t0 < 60, "word_shingles is superlinear again"


def test_hot_bucket_cap_minhash_pairs_linear(spark):
    """VERDICT r2 #1 gate: 5k docs landing in ONE LSH bucket per band
    (byte-identical text) must produce O(m) star pairs, not m^2/2 —
    the uncapped join would emit ~12.5M pairs here (and 5*10^11 at
    m=10^6 on a templated web corpus)."""
    from html_to_document_spark.operators.dedup import minhash_lsh_pairs

    m = 5000
    df = spark.range(m).select(
        F.col("id").alias("doc_id"),
        F.lit("identical boilerplate page body " * 8).alias("text"),
    )
    pairs = minhash_lsh_pairs(df, threshold=0.5, bucket_cap=128)
    rows = pairs.collect()
    assert len(rows) == m - 1  # star: every doc paired with min id only
    assert all(r.id_a == 0 and r.est_jaccard == 1.0 for r in rows)
    assert {r.id_b for r in rows} == set(range(1, m))


def test_hot_bucket_cap_simhash_pairs_linear(spark):
    from html_to_document_spark.operators.dedup import simhash_near_pairs

    m = 2000
    df = spark.range(m).select(
        F.col("id").alias("doc_id"),
        F.lit("same exact words everywhere again and again").alias("text"),
    )
    rows = simhash_near_pairs(df, bucket_cap=64).collect()
    assert len(rows) == m - 1
    assert all(r.id_a == 0 and r.hamming == 0 for r in rows)


def test_hot_bucket_cap_clustering_unchanged(spark):
    """Capped vs uncapped runs must produce identical CLUSTERS on a
    corpus with planted duplicate groups larger than the cap —
    star pairing loses individual edges but connected components
    restores the same partition of the corpus."""
    from html_to_document_spark.operators.dedup import dedup_clusters

    rows = []
    for g in range(3):  # 3 groups of 30 identical docs
        for j in range(30):
            rows.append((g * 1000 + j, f"group {g} shared body text " * 6))
    for u in range(20):  # plus 20 unique singletons
        rows.append((9000 + u, f"unique document {u} with its own words " * 4))
    corpus = spark.createDataFrame(rows, "doc_id long, text string")

    capped = {
        r.doc_id: r.component
        for r in dedup_clusters(corpus, threshold=0.9, bucket_cap=8).collect()
    }
    uncapped = {
        r.doc_id: r.component
        for r in dedup_clusters(corpus, threshold=0.9, bucket_cap=None).collect()
    }
    assert capped == uncapped
    assert len(set(capped.values())) == 23  # 3 groups + 20 singletons


def test_hot_block_cap_ngram_jaccard_linear(spark):
    """VERDICT r3 #1 gate: 5k docs sharing an identical opening
    sentence (the default first-shingle block) must produce O(m) star
    pairs, not m^2/2 pairs each dragging two shingle arrays through
    the shuffle."""
    from html_to_document_spark.operators.dedup import ngram_jaccard_pairs

    m = 5000
    df = spark.range(m).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("shared boilerplate opening sentence body "),
            F.col("id").cast("string"),
        ).alias("text"),
    )
    # threshold 0: keep every star pair so the count is exact
    rows = ngram_jaccard_pairs(df, threshold=0.0, block_cap=128).collect()
    assert len(rows) == m - 1  # star: every doc paired with min id only
    assert all(r.id_a == 0 for r in rows)
    assert {r.id_b for r in rows} == set(range(1, m))
    # prefix-only similarity scores below 1.0 (exact Jaccard is real)
    assert all(0.0 < r.jaccard < 1.0 for r in rows)


_BELOW_CAP_TEXTS = [
    (1, "alpha beta gamma delta one"),
    (2, "alpha beta gamma delta two"),
    (3, "alpha beta gamma delta one"),
    (4, "zeta eta theta iota kappa"),
]
_BELOW_CAP_VECS = [
    (1, [1.0, 0.0, 0.0, 0.0]),
    (2, [0.99, 0.1, 0.0, 0.0]),
    (3, [1.0, 0.0, 0.0, 0.0]),
    (4, [0.0, 0.0, 1.0, 0.0]),
]


def _symmetric_near_dup_pairs(spark, kind, cap):
    """One of the four symmetric bucketed pair generators over a tiny
    corpus whose every bucket holds at most four rows."""
    if kind == "embedding":
        vecs = spark.createDataFrame(
            _BELOW_CAP_VECS, "vec_id long, embedding array<double>"
        )
        return embedding_near_dup_pairs(
            vecs, threshold=0.5, dim=4, bucket_cap=cap
        )
    df = spark.createDataFrame(_BELOW_CAP_TEXTS, "doc_id long, text string")
    if kind == "minhash":
        return minhash_lsh_pairs(df, threshold=0.1, bucket_cap=cap)
    if kind == "ngram":
        return ngram_jaccard_pairs(df, threshold=0.1, block_cap=cap)
    return simhash_near_pairs(df, bucket_cap=cap)


_SYMMETRIC_GENERATORS = ["embedding", "minhash", "ngram", "simhash"]


@pytest.mark.parametrize("kind", _SYMMETRIC_GENERATORS)
def test_capped_equals_uncapped_below_cap(spark, kind):
    """With every bucket under the cap, the capped plan must return the
    exact same pair set and scores as the uncapped one."""
    capped = sorted(
        tuple(r) for r in _symmetric_near_dup_pairs(spark, kind, 128).collect()
    )
    uncapped = sorted(
        tuple(r) for r in _symmetric_near_dup_pairs(spark, kind, None).collect()
    )
    assert capped == uncapped
    # the identical docs 1 and 3 always pair, at full similarity
    scores = {r[:2]: r[2] for r in capped}
    assert scores[(1, 3)] == (0 if kind == "simhash" else 1.0)


@pytest.mark.parametrize("kind", _SYMMETRIC_GENERATORS)
def test_hot_bucket_probe_is_hash_aggregate(spark, kind):
    """The hot-bucket probe aggregates count + min of the primitive id,
    which Spark hash-aggregates; a min over a struct (id, payload)
    forces a SortAggregate over every bucket row."""
    plan = (
        _symmetric_near_dup_pairs(spark, kind, 128)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "HashAggregate" in plan
    sort_mins = [
        line for line in plan.splitlines()
        if "SortAggregate" in line and "min(" in line
    ]
    assert not sort_mins, sort_mins


@pytest.mark.parametrize("cap", [128, None])
def test_embedding_pairs_plan_has_no_sort_aggregate(spark, cap):
    """The embedding pairs are scored before duplicates are dropped, so
    the dedup groups (id_a, id_b, cosine) in a hash aggregate; dropping
    duplicate ids first carries both vectors through ``first()``, a
    SortAggregate over every candidate pair."""
    plan = (
        _symmetric_near_dup_pairs(spark, "embedding", cap)
        ._jdf.queryExecution().executedPlan().toString()
    )
    sort_aggs = [line for line in plan.splitlines() if "SortAggregate" in line]
    assert not sort_aggs, sort_aggs


def test_star_components_chain_logarithmic_rounds(spark):
    """VERDICT r3 #3 gate: a 1000-node chain has diameter 1000 —
    min-label propagation would need ~1000 rounds; the alternating
    large/small-star rounds must collapse it to one star in O(log n)
    rounds."""
    from html_to_document_spark.operators.dedup import connected_components

    n = 1000
    edges = spark.range(n - 1).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    stats = {}
    out = connected_components(edges, stats=stats).collect()
    assert {r.id for r in out} == set(range(n))
    assert all(r.component == 0 for r in out)
    assert stats["rounds"] <= 12, stats  # ~log2(n), not diameter


def test_star_components_match_label_partitions(spark):
    """Every node is labelled with its component's minimum id on a
    mixed graph: a chain, a clique, a fan and a pair."""
    from html_to_document_spark.operators.dedup import connected_components

    edges = []
    edges += [(i, i + 1) for i in range(100, 130)]        # chain
    edges += [(200 + i, 200 + j)                           # clique of 6
              for i in range(6) for j in range(i + 1, 6)]
    edges += [(300, 300 + i) for i in range(1, 8)]         # fan
    edges += [(400, 401)]                                  # pair
    e = spark.createDataFrame(edges, "id_a long, id_b long")
    comp = {r.id: r.component for r in connected_components(e).collect()}
    expected = {i: 100 for i in range(100, 131)}
    expected.update({i: 200 for i in range(200, 206)})
    expected.update({i: 300 for i in range(300, 308)})
    expected.update({400: 400, 401: 400})
    assert comp == expected


def test_dedup_clusters_star_equals_label(spark):
    """End-to-end: three groups of ten identical docs cluster to their
    minimum id; unique docs are singleton representatives."""
    from html_to_document_spark.operators.dedup import dedup_clusters

    rows = []
    for g in range(3):
        for j in range(10):
            rows.append((g * 100 + j, f"group {g} shared body text " * 6))
    for u in range(10):
        rows.append((9000 + u, f"unique document {u} own words " * 4))
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(tuple(r) for r in dedup_clusters(
        corpus, threshold=0.9).collect())
    expected = sorted(
        (i, i - i % 100 if i < 9000 else i, i % 100 == 0 or i >= 9000)
        for i, _ in rows
    )
    assert got == expected


def _union_find_labels(edges):
    """Min-id component label of every node of a non-self edge."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a != b:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    members = {}
    for v in {v for a, b in edges if a != b for v in (a, b)}:
        members.setdefault(find(v), []).append(v)
    return {v: min(vs) for vs in members.values() for v in vs}


def test_star_components_random_graphs_match_union_find(spark):
    """Property check: on random edge sets, the components must
    reproduce a pure-Python union-find's partition with min-id labels
    (the ground truth the distributed form approximates round-wise),
    one row per node."""
    import random
    from itertools import combinations

    from html_to_document_spark.operators.dedup import connected_components

    rng = random.Random(2024)
    trials = []
    for _ in range(4):
        n = rng.randint(5, 60)
        m = rng.randint(0, 2 * n)
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        trials.append([(a, b) for a, b in edges if a != b])
    # and all 1,024 graphs on five nodes, each on its own block of ids
    slots = list(combinations(range(5), 2))
    trials.append([
        (10 * g + a, 10 * g + b)
        for g in range(1 << len(slots))
        for i, (a, b) in enumerate(slots) if g >> i & 1
    ])
    for trial, edges in enumerate(trials):
        if not edges:
            continue
        e = spark.createDataFrame(edges, "id_a long, id_b long")
        rows = connected_components(e).collect()
        assert len(rows) == len({r.id for r in rows}), f"trial {trial}"
        comp = {r.id: r.component for r in rows}
        assert comp == _union_find_labels(edges), f"trial {trial}"


@pytest.mark.parametrize("edges", [
    [(0, 2), (1, 2)],
    [(0, 4), (4, 2), (2, 3), (3, 1)],
], ids=["two-roots", "path-0-4-2-3-1"])
def test_components_stop_only_on_a_star_forest(spark, edges):
    """A child with two root parents passes a stop test that only asks
    "is a parent also a child": the input 2->0, 2->1 does as it stands,
    and the path 0-4-2-3-1 does after one round (2 under both 0 and 1).
    Each graph runs alone, because in a shared edge set the rounds
    another graph still needs would mend it."""
    from html_to_document_spark.operators.dedup import connected_components

    e = spark.createDataFrame(edges, "id_a long, id_b long")
    rows = connected_components(e).collect()
    assert sorted(rows) == sorted((v, 0) for v in {x for ed in edges
                                                   for x in ed})


def test_components_forty_chain_converges_at_default_max_iter(spark):
    """A 40-node chain (diameter 39, past the default ``max_iter`` of
    25) is one component, with no RuntimeWarning."""
    import warnings

    from html_to_document_spark.operators.dedup import connected_components

    e = spark.range(39).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        rows = connected_components(e).collect()
    assert sorted(r.id for r in rows) == list(range(40))
    assert {r.component for r in rows} == {0}


def test_components_clique_takes_one_round(spark):
    """Near-dup clusters are cliques: one large-star round leaves a
    star forest, so the stop test ends after round one."""
    from itertools import combinations

    from html_to_document_spark.operators.dedup import connected_components

    edges = [(10 * g + a, 10 * g + b)
             for g in range(20) for a, b in combinations(range(5), 2)]
    e = spark.createDataFrame(edges, "id_a long, id_b long")
    stats = {}
    comp = {r.id: r.component
            for r in connected_components(e, stats=stats).collect()}
    assert comp == {10 * g + a: 10 * g for g in range(20) for a in range(5)}
    assert stats["rounds"] == 1, stats


def test_components_warn_when_max_iter_runs_out(spark):
    """A graph that is not a star forest after ``max_iter`` rounds
    warns: its labels may split a true component."""
    from html_to_document_spark.operators.dedup import connected_components

    e = spark.range(99).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    stats = {}
    with pytest.warns(RuntimeWarning, match="did not converge in 2"):
        connected_components(e, max_iter=2, stats=stats)
    assert stats["rounds"] == 2, stats


def test_dedup_clusters_exact_verify_fixes_precision(spark):
    """r5: exact_verify_threshold inserts true-Jaccard verification
    between the LSH candidates and the component build — a near-dup
    below the verified threshold must NOT merge, even when the sketch
    (run at a low recall threshold) surfaces the pair."""
    from html_to_document_spark.operators.dedup import dedup_clusters

    base = " ".join(f"w{i}" for i in range(30))
    rows = [
        (1, base),
        (2, base),                       # exact mirror of 1
        (3, base.replace("w7", "xx")),   # near-dup: jaccard < 1.0
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in dedup_clusters(
        df, threshold=0.3,
        exact_verify_threshold=1.0, verify_shingle_n=3,
    ).collect()}
    assert out[1].component == 1 and out[1].is_representative
    assert out[2].component == 1 and not out[2].is_representative
    assert out[3].component == 3 and out[3].is_representative
    # without the verify the same sketch threshold merges doc 3
    loose = {r.doc_id: r.component for r in dedup_clusters(
        df, threshold=0.3).collect()}
    assert loose[3] == 1


def test_dedup_clusters_quality_keeper(spark):
    """r5: quality_col switches keeper selection from min-id to
    max-quality (FineWeb-style "keep the best member"): ties break to
    the smallest id, NULL quality loses to any scored member, the
    component labels themselves are unchanged, and a singleton keeps
    itself even with NULL quality."""
    from html_to_document_spark.operators.dedup import dedup_clusters

    def text(i):
        return f"totally unique document number {i} " * 5 + f"tail {i}"

    rows = []
    for i, qs in [(0, {0: 1.0, 100: 9.0, 200: 3.0}),   # max wins
                  (1, {1: 5.0, 101: 5.0, 201: 5.0}),   # tie -> min id
                  (2, {2: None, 102: 2.0, 202: 2.0})]:  # NULL loses
        for did, q in qs.items():
            rows.append((did, text(i), q))
    rows += [(3, text(3), 0.0), (4, text(4), None)]     # singletons
    corpus = spark.createDataFrame(
        rows, "doc_id long, text string, quality double"
    )

    out = {r.doc_id: r for r in dedup_clusters(
        corpus, threshold=0.9, quality_col="quality"
    ).collect()}
    assert len(out) == len(rows)
    # component labels stay min-id; keepers follow quality
    for did in (0, 100, 200):
        assert out[did].component == 0 and out[did].keeper_id == 100
    for did in (1, 101, 201):
        assert out[did].component == 1 and out[did].keeper_id == 1
    for did in (2, 102, 202):
        assert out[did].component == 2 and out[did].keeper_id == 102
    for did in (3, 4):
        assert out[did].component == did and out[did].keeper_id == did
        assert out[did].is_representative
    reps = {d for d, r in out.items() if r.is_representative}
    assert reps == {100, 1, 102, 3, 4}


def test_soft_dedup_weights(spark, docs):
    from html_to_document_spark.operators.dedup import soft_dedup_weights

    out = soft_dedup_weights(docs)  # alpha=1: weight = 1/n exactly
    assert out.count() == 5  # reweighting drops nothing
    w = {r.doc_id: (r.dup_count, r.soft_weight) for r in out.collect()}
    assert w[1] == (2, 0.5) and w[2] == (2, 0.5)
    assert w[3] == (1, 1.0) and w[4] == (1, 1.0) and w[5] == (1, 1.0)
    # a duplicate group's total expected mass is 1 at alpha=1
    assert sum(v[1] for k, v in w.items() if k in (1, 2)) == 1.0
    # tempered alpha goes through pow(n, -alpha); JVM Math.pow is only
    # 1-ulp-accurate (measured: pow(2,-0.5) is one ulp BELOW Python /
    # correctly-rounded libm), so compare approximately — gate rows
    # must r4-round any non-integral-alpha weight for this reason
    w2 = {
        r.doc_id: r.soft_weight
        for r in soft_dedup_weights(docs, alpha=0.5).collect()
    }
    assert abs(w2[1] - 2.0 ** -0.5) < 1e-14 and w2[4] == 1.0


def test_soft_dedup_weights_normalized(spark):
    from html_to_document_spark.operators.dedup import soft_dedup_weights

    d = spark.createDataFrame(
        [(1, "A  b "), (2, "a b"), (3, "c")], "doc_id long, text string"
    )
    out = {
        r.doc_id: r.dup_count
        for r in soft_dedup_weights(d, normalize=True).collect()
    }
    assert out == {1: 2, 2: 2, 3: 1}


def test_exact_dedup_latest(spark):
    from html_to_document_spark.operators.dedup import exact_dedup_latest

    d = spark.createDataFrame(
        [(1, "x", 5), (2, "x", 9), (3, "x", 9), (4, "y", 1)],
        "doc_id long, text string, ts long",
    )
    kept = {r.doc_id for r in exact_dedup_latest(d).collect()}
    # newest ts wins; the 2-vs-3 tie breaks to the smaller id
    assert kept == {2, 4}


def test_edit_similarity_hand_values(spark):
    from html_to_document_spark.operators.dedup import verify_pairs_edit

    docs = spark.createDataFrame(
        [
            (0, "kitten"),
            (1, "sitting"),
            (2, ""),
            (3, ""),
            (4, "abcd"),
            (5, "abcd"),
        ],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(0, 1), (2, 3), (4, 5)], "id_a long, id_b long"
    )
    got = {
        (r["id_a"], r["id_b"]): r["edit_sim"]
        for r in verify_pairs_edit(docs, pairs, threshold=-1.0).collect()
    }
    # levenshtein(kitten, sitting) = 3, max len 7 -> 1 - 3/7 = 0.5714
    assert got[(0, 1)] == 0.5714
    assert got[(2, 3)] == 1.0  # both empty: defined as identical
    assert got[(4, 5)] == 1.0


def test_edit_similarity_threshold_and_prefix_cap(spark):
    from html_to_document_spark.operators.dedup import verify_pairs_edit

    # identical 10-char prefix, divergent tails: full-text similarity
    # is low, but the max_chars=10 bounded verify reads 1.0
    docs = spark.createDataFrame(
        [
            (0, "same-head " + "x" * 30),
            (1, "same-head " + "y" * 30),
        ],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame([(0, 1)], "id_a long, id_b long")
    full = verify_pairs_edit(docs, pairs, threshold=0.9).collect()
    assert full == []  # 30/40 of the chars differ
    capped = verify_pairs_edit(
        docs, pairs, threshold=0.9, max_chars=10
    ).collect()
    assert len(capped) == 1 and capped[0]["edit_sim"] == 1.0


def test_edit_similarity_duckdb_parity(spark):
    """Spark's F.levenshtein vs DuckDB's levenshtein on assorted
    word-pair mutations — the two independent DP implementations the
    jaccard_verify gate row now pins at corpus scale."""
    import duckdb

    from html_to_document_spark.operators.dedup import verify_pairs_edit

    texts = [
        ("alpha beta gamma", "alpha beta gamma"),
        ("alpha beta gamma", "alpha bets gamma"),
        ("the quick brown fox", "quick brown foxes"),
        ("", "nonempty"),
        ("transposed ab", "transposed ba"),
    ]
    rows, pairs = [], []
    for i, (a, b) in enumerate(texts):
        rows += [(2 * i, a), (2 * i + 1, b)]
        pairs.append((2 * i, 2 * i + 1))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pdf = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = {
        (r["id_a"], r["id_b"]): r["edit_sim"]
        for r in verify_pairs_edit(docs, pdf, threshold=-1.0).collect()
    }
    con = duckdb.connect()
    for i, (a, b) in enumerate(texts):
        want = con.execute(
            "select floor((case when greatest(length(?), length(?)) = 0 "
            "then 1.0 else 1.0 - cast(levenshtein(?, ?) as double) / "
            "cast(greatest(length(?), length(?)) as double) end) "
            "* 10000 + 0.5) / 10000.0",
            [a, b, a, b, a, b],
        ).fetchone()[0]
        assert got[(2 * i, 2 * i + 1)] == want


def test_optimal_lsh_params_properties():
    from html_to_document_spark.operators.dedup import optimal_lsh_params

    # budget respected, inflection tracks the threshold
    for thr in (0.5, 0.7, 0.85, 0.95):
        b, r = optimal_lsh_params(thr, num_perm=64)
        assert 1 <= b * r <= 64
        inflection = (1.0 / b) ** (1.0 / r)
        assert abs(inflection - thr) < 0.2, (thr, b, r, inflection)
    # higher threshold -> longer bands (more rows per band)
    _, r_low = optimal_lsh_params(0.5, num_perm=64)
    _, r_high = optimal_lsh_params(0.95, num_perm=64)
    assert r_high >= r_low
    # recall-heavy weighting -> at least as many bands as precision-heavy
    b_recall, _ = optimal_lsh_params(0.8, 64, fp_weight=0.1, fn_weight=0.9)
    b_prec, _ = optimal_lsh_params(0.8, 64, fp_weight=0.9, fn_weight=0.1)
    assert b_recall >= b_prec


def test_optimal_lsh_params_matches_brute_scurve():
    """The chosen pair beats (or ties) every other in-budget pair on
    the same weighted S-curve error, recomputed independently here
    with a different integration grid."""
    from html_to_document_spark.operators.dedup import optimal_lsh_params

    thr, perm = 0.8, 32
    chosen = optimal_lsh_params(thr, perm)

    def err(b, r, n=2000):
        dx1 = thr / n
        fp = sum(
            1.0 - (1.0 - (dx1 * (i + 0.5)) ** r) ** b for i in range(n)
        ) * dx1
        dx2 = (1.0 - thr) / n
        fn = sum(
            (1.0 - (thr + dx2 * (i + 0.5)) ** r) ** b for i in range(n)
        ) * dx2
        return 0.5 * fp + 0.5 * fn

    best = min(
        ((b, r) for b in range(1, perm + 1)
         for r in range(1, perm // b + 1)),
        key=lambda br: err(*br),
    )
    assert abs(err(*chosen) - err(*best)) < 1e-3, (chosen, best)


def test_optimal_lsh_params_rejects_bad_inputs():
    import pytest

    from html_to_document_spark.operators.dedup import optimal_lsh_params

    with pytest.raises(ValueError):
        optimal_lsh_params(0.0)
    with pytest.raises(ValueError):
        optimal_lsh_params(1.0)
    with pytest.raises(ValueError):
        optimal_lsh_params(0.5, num_perm=0)
