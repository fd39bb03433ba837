"""BM25 retrieval over a document corpus.

Sparse lexical retrieval (Robertson & Zaragoza 2009, the Okapi BM25
form used by Lucene/Elasticsearch) as a pure DataFrame plan — the
curation uses are retrieval-based decontamination (find training docs
that retrieve an eval query too well) and targeted corpus sampling
("give me the docs most about X").

100 TB shape:
- The corpus never shuffles on anything but the (doc_id)-keyed hit
  aggregation: tokens are filtered to the query's literal term set
  *before* the explode's groupBy, so that one shuffle carries
  (doc_id, term) hits — a tiny fraction of the token stream.
- Scan count, honestly (review r5-cont4): the plan holds SEPARATE
  tokenize subtrees for the (N, avgdl) single-row agg and for the
  hit explode, and the hits subtree evaluates once per consumer
  (the score join and the per-term df agg) — up to three
  projection-only passes, none of which shuffles the corpus.
- Corpus aggregates (N, avgdl) are a single-row agg joined back via
  broadcast; per-term document frequencies aggregate the already-tiny
  hits frame and broadcast back as the idf map.
- Scoring is a FIXED-ORDER arithmetic expression over per-term tf
  columns (a literal-values pivot), not a float sum over a
  nondeterministically-ordered row stream — so the double result is
  bit-identical run to run and engine to engine, which is what lets
  a DuckDB oracle hash-match the scores (same determinism contract
  as text_analysis.r4 rounding).
- Top-k is orderBy+limit — Spark's TakeOrdered, a per-partition
  heap + driver merge of k rows, no global sort.

The reference repo has no retrieval surface; this is part of the
LLM-training-data layer (like dedup/DSIR/quality), built on the same
tokenization contract as text_analysis (lower, ``\\s+`` split, empty
tokens dropped).
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Sequence

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import Column, DataFrame

__all__ = [
    "bm25_score",
    "bm25_topk",
    "bm25_score_multi",
    "bm25_topk_multi",
    "tfidf_keywords",
]


def _tokens(col: "Column") -> "Column":
    from pyspark.sql import functions as F

    # Materialize the words array once per row (never re-evaluate a
    # split inside a lambda — the r4 gopher_repetition lesson).
    return F.filter(F.split(F.lower(col), r"\s+"), lambda x: x != F.lit(""))


def bm25_score(
    df: "DataFrame",
    query_terms: Sequence[str],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> "DataFrame":
    """Per-document BM25 score for a literal query.

    Returns (id_col, n_matched, score) for every document containing
    at least one query term; ``score`` is HALF_UP-rounded at 4
    decimals (text_analysis.r4), ``n_matched`` counts distinct query
    terms present. idf uses the Lucene non-negative form
    ``ln(1 + (N - df + 0.5) / (df + 0.5))`` (module docstring has the
    scan-count accounting).
    """
    from pyspark.sql import functions as F

    from .text_analysis import r4

    terms = sorted(set(t.lower() for t in query_terms if t.strip()))
    if not terms:
        raise ValueError("query_terms must contain at least one term")

    toks = df.select(
        F.col(id_col), _tokens(F.col(text_col)).alias("_toks")
    ).select(id_col, "_toks", F.size("_toks").alias("_dl"))

    # Corpus constants as a broadcastable single-row frame (kept in
    # the plan — no driver collect).
    consts = toks.agg(
        F.count(F.lit(1)).cast("double").alias("_n_docs"),
        (F.sum("_dl") / F.count(F.lit(1))).cast("double").alias("_avgdl"),
    )

    # Hits: only query-term tokens survive to the shuffle.
    hits = (
        toks.select(id_col, "_dl", F.explode("_toks").alias("_t"))
        .filter(F.col("_t").isin(list(terms)))
        .groupBy(id_col)
        .agg(
            F.max("_dl").alias("_dl"),
            *[
                F.sum((F.col("_t") == F.lit(t)).cast("long")).alias(f"_tf_{i}")
                for i, t in enumerate(terms)
            ],
        )
    )

    # Per-term document frequencies over the tiny hits frame.
    dfreq = hits.agg(
        *[
            F.sum((F.col(f"_tf_{i}") > 0).cast("double")).alias(f"_df_{i}")
            for i in range(len(terms))
        ]
    )

    j = hits.crossJoin(F.broadcast(consts)).crossJoin(F.broadcast(dfreq))

    def term_score(i: int) -> "Column":
        tf = F.col(f"_tf_{i}").cast("double")
        idf = F.log(
            F.lit(1.0)
            + (F.col("_n_docs") - F.col(f"_df_{i}") + F.lit(0.5))
            / (F.col(f"_df_{i}") + F.lit(0.5))
        )
        denom = tf + F.lit(k1) * (
            F.lit(1.0 - b) + F.lit(b) * F.col("_dl") / F.col("_avgdl")
        )
        return idf * tf * F.lit(k1 + 1.0) / denom

    # Fixed-order sum: score_0 + score_1 + ... (left to right), so
    # the double is deterministic and oracle-reproducible.
    score = term_score(0)
    for i in range(1, len(terms)):
        score = score + term_score(i)
    matched = (F.col("_tf_0") > 0).cast("long")
    for i in range(1, len(terms)):
        matched = matched + (F.col(f"_tf_{i}") > 0).cast("long")

    return j.select(
        F.col(id_col),
        matched.alias("n_matched"),
        r4(score).alias("score"),
    )


def bm25_topk(
    df: "DataFrame",
    query_terms: Sequence[str],
    k: int = 10,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> "DataFrame":
    """Top-k documents by BM25 for a literal query.

    Deterministic cut: orders by (rounded score desc, id asc) — ties
    at the boundary resolve identically on every engine. TakeOrdered
    under the hood (heap per partition, k-row driver merge).
    """
    from pyspark.sql import functions as F

    scored = bm25_score(
        df, query_terms, id_col=id_col, text_col=text_col, k1=k1, b=b
    )
    return scored.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k)


def tfidf_keywords(
    df: "DataFrame",
    k: int = 5,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_word_len: int = 3,
    max_df_frac: float = 0.5,
) -> "DataFrame":
    """Per-document top-k keywords by tf-idf (Salton & Buckley 1988;
    the smooth-idf form scikit-learn ships: ``idf = ln((N + 1) /
    (df + 1)) + 1``) — corpus datasheet topic tags, cheap domain
    labels for mixture balancing, and dedup-cluster naming.

    Tokens shorter than ``min_word_len`` chars and terms appearing in
    more than ``max_df_frac`` of documents (corpus-level stopwords —
    adaptive, no hand list) are excluded. Returns (id_col, term, tf,
    score, rank) with ``rank`` 1..k per document ordered by
    (r4-rounded score desc, term asc) — a deterministic cut on every
    engine; ``score`` is tf·idf over exact integer (tf, df, N) inputs,
    one ln + one multiply, the bm25 cross-engine contract.

    100 TB shape: the corpus shuffles twice on small keys — once to
    (doc, term) partial counts (a doc's tokens sit in one input row,
    so the map-side combine collapses them to distinct terms per doc
    before the exchange), once re-keyed by term for the df join.
    Unlike bm25 the vocabulary is UNBOUNDED, so the df frame is a
    plain equi-join (never a broadcast — a web-corpus vocab is
    billions of terms); a stop-grade hot term is one skewed probe key
    AQE splits against the one-row-per-term build side. Only the
    single-row N broadcasts. The rank window partitions by doc over
    each doc's distinct filtered terms (bounded by doc length, never
    corpus size)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from .text_analysis import r4

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")

    toks = df.select(
        F.col(id_col),
        F.filter(
            _tokens(F.col(text_col)),
            lambda x: F.length(x) >= min_word_len,
        ).alias("_toks"),
    )
    tf = (
        toks.select(id_col, F.explode("_toks").alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    n_docs = df.select(F.count(F.lit(1)).cast("double").alias("_n"))
    dfreq = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("_df")
    )
    j = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .filter(F.col("_df") / F.col("_n") <= F.lit(float(max_df_frac)))
    )
    idf = F.log((F.col("_n") + F.lit(1.0)) / (F.col("_df") + F.lit(1.0))) + F.lit(
        1.0
    )
    scored = j.select(
        F.col(id_col),
        "term",
        "tf",
        r4(idf * F.col("tf").cast("double")).alias("score"),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "tf", "score", F.col("rank").cast("int"))
    )


def bm25_score_multi(
    df: "DataFrame",
    queries: "dict[str, Sequence[str]]",
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> "DataFrame":
    """Per-(query, document) BM25 for a BATCH of literal queries — the
    retrieval-based-decontamination shape (score every training doc
    against thousands of eval queries in one job with one corpus
    hit-shuffle; scan accounting in the module docstring applies
    here too).

    Returns (query_id, id_col, n_matched, score); documents matching
    no term of a query are absent for that query. Bit-identical to
    ``bm25_score`` run per query: contributions are folded in sorted-
    term order via ``aggregate(array_sort(...))`` — a float sum over
    an unordered row stream would drift in the last ulp between runs
    and engines, so the fold replays exactly the fixed-order addition
    the single-query pivot compiles (absent terms contribute an exact
    +0.0 there, which is the identity, so skipping them is lossless).

    100 TB shape: identical to ``bm25_score`` — the corpus's only
    wide shuffle carries (doc, term) hits for the UNION of all query
    terms; the (query_id, term) map, per-term dfs and corpus
    constants are all broadcast; per-(query, doc) grouping keys the
    tiny hit-join result, never the corpus.
    """
    from pyspark.sql import functions as F

    from .text_analysis import r4

    qmap_rows = []
    for qid, terms in queries.items():
        ts = sorted(set(t.lower() for t in terms if t.strip()))
        if not ts:
            raise ValueError(f"query {qid!r} has no terms")
        qmap_rows.extend((qid, t) for t in ts)
    union_terms = sorted({t for _, t in qmap_rows})

    toks = df.select(
        F.col(id_col), _tokens(F.col(text_col)).alias("_toks")
    ).select(id_col, "_toks", F.size("_toks").alias("_dl"))
    consts = toks.agg(
        F.count(F.lit(1)).cast("double").alias("_n_docs"),
        (F.sum("_dl") / F.count(F.lit(1))).cast("double").alias("_avgdl"),
    )
    hits = (
        toks.select(id_col, "_dl", F.explode("_toks").alias("_t"))
        .filter(F.col("_t").isin(union_terms))
        .groupBy(id_col, "_t")
        .agg(F.count(F.lit(1)).cast("double").alias("_tf"),
             F.max("_dl").alias("_dl"))
    )
    dfreq = hits.groupBy("_t").agg(
        F.count(F.lit(1)).cast("double").alias("_df")
    )
    from .parallelism import literal_frame

    qmap = literal_frame(
        df.sparkSession, qmap_rows, ["query_id", "_t"]
    )

    j = (
        hits.join(F.broadcast(qmap), "_t")
        .join(F.broadcast(dfreq), "_t")
        .crossJoin(F.broadcast(consts))
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("_n_docs") - F.col("_df") + F.lit(0.5))
        / (F.col("_df") + F.lit(0.5))
    )
    denom = F.col("_tf") + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("_dl") / F.col("_avgdl")
    )
    contrib = idf * F.col("_tf") * F.lit(k1 + 1.0) / denom

    per_term = j.select(
        "query_id", F.col(id_col),
        F.struct(F.col("_t").alias("t"), contrib.alias("c")).alias("_tc"),
    )
    return (
        per_term.groupBy("query_id", id_col)
        .agg(F.collect_list("_tc").alias("_tcs"))
        .select(
            "query_id",
            F.col(id_col),
            F.size("_tcs").cast("long").alias("n_matched"),
            r4(
                F.aggregate(
                    F.array_sort("_tcs"),
                    F.lit(0.0),
                    lambda acc, x: acc + x["c"],
                )
            ).alias("score"),
        )
    )


def bm25_topk_multi(
    df: "DataFrame",
    queries: "dict[str, Sequence[str]]",
    k: int = 10,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> "DataFrame":
    """Top-k per query over a query batch. The rank window partitions
    by query_id over each query's CANDIDATE set (docs containing at
    least one query term) — bounded by term selectivity, not corpus
    size; for stop-word-grade terms pre-prune the query or raise the
    per-term df cutoff upstream (WAND-style pruning is the classical
    refinement). Deterministic cut: (rounded score desc, id asc)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    scored = bm25_score_multi(
        df, queries, id_col=id_col, text_col=text_col, k1=k1, b=b
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )
