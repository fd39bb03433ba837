"""Hyperlink-graph operators for crawl curation: harvest anchor/href
edges from extracted spans, then rank hosts with PageRank (Page,
Brin, Motwani, Winograd 1999 — "The PageRank Citation Ranking") and
in-degree. Link-graph centrality is the standard crawl-side quality
and frontier-prioritization signal (CommonCrawl publishes exactly
these host-level rank files); downstream it joins onto the corpus as
a per-host quality weight the same way the classifier scores do.

The harvest side rides the extraction engine's existing span
metadata: ``ExtractOptions(with_meta=True)`` records the first href
of every hyperlink-wrapped chunk (the reference's hyperlink wrap,
``parser.ts`` anchor branch — SURVEY L10), so edges fall out of a
filter + projection over spans the pipeline already produced — no
second parse of the HTML.

100 TB shape:

- ``harvest_links`` / ``host_edges`` are projections over the spans
  frame; the only shuffle is the final host-level ``distinct()`` on
  two short string columns (hosts << pages by orders of magnitude).
- ``pagerank`` iterates ``k`` rounds of join + partial-agg. The edge
  frame (two string columns) and the out-degree frame are persisted
  ONCE; each round shuffles only the (node, rank) frame — 16 bytes of
  payload per node — never the corpus and never the edge strings
  more than the first hash exchange. Dangling mass is a single-row
  aggregate broadcast back (no driver collect in the loop), and
  ``checkpoint_interval`` truncates the growing lineage with an eager
  ``localCheckpoint`` so round ``k``'s plan does not replay rounds
  ``1..k-1``. At cluster scale, pre-bucketing edges by ``src`` makes
  the per-round join exchange one-sided.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import Column, DataFrame

from .url_filter import host_col


def harvest_links(
    spans: "DataFrame",
    doc_col: str = "doc_id",
    href_col: str = "href",
    text_col: str = "text",
) -> "DataFrame":
    """(doc_id, href, anchor_text) for every extracted span that
    carries a hyperlink target — the raw link corpus (anchor text is
    itself a curation asset: it is the classic relevance label for
    the page it points AT). Input is the exploded meta-span frame
    (``operators.extract_spans.exploded_with_meta``)."""
    from pyspark.sql import functions as F

    return (
        spans.filter(
            F.col(href_col).isNotNull() & (F.col(href_col) != "")
        )
        .select(
            F.col(doc_col).alias("doc_id"),
            F.col(href_col).alias("href"),
            F.col(text_col).alias("anchor_text"),
        )
    )


def host_edges(
    links: "DataFrame",
    src_url_col: str = "url",
    href_col: str = "href",
    drop_self: bool = True,
) -> "DataFrame":
    """Distinct host-level (src, dst) edges from a link frame that
    carries the source page's URL: both endpoints go through the same
    ``try_parse_url`` host extraction as the domain filters (lower-
    cased; malformed URLs yield NULL and are dropped, never fail the
    job). Relative hrefs have no host and thus drop — at host
    granularity a relative link is a self-edge, which ``drop_self``
    removes anyway. The ``distinct()`` on two short strings is the
    operator's only shuffle."""
    from pyspark.sql import functions as F

    e = links.select(
        host_col(src_url_col).alias("src"),
        host_col(href_col).alias("dst"),
    ).filter(
        F.col("src").isNotNull() & (F.col("src") != "")
        & F.col("dst").isNotNull() & (F.col("dst") != "")
    )
    if drop_self:
        e = e.filter(F.col("src") != F.col("dst"))
    return e.distinct()


def in_degree(
    edges: "DataFrame", src_col: str = "src", dst_col: str = "dst"
) -> "DataFrame":
    """(node, n_inlinks) over the distinct edge set — the cheap
    centrality proxy (one partial-agg shuffle on the dst column)."""
    from pyspark.sql import functions as F

    return (
        edges.select(
            F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
        )
        .distinct()
        .groupBy(F.col("dst").alias("node"))
        .agg(F.count("*").cast("long").alias("n_inlinks"))
    )


def anchor_text_profile(
    links: "DataFrame",
    dst_col: str = "dst",
    anchor_col: str = "anchor_text",
    top_k: int = 8,
) -> "DataFrame":
    """Incoming anchor-text aggregation per link TARGET — the classic
    off-page relevance/quality signal (anchor text is how the web
    describes the page it points AT; search engines index it, and
    crawl curation uses it both as a per-host topic label and as a
    spam tell — link farms repeat one commercial anchor). Input is a
    link frame carrying the target key (host or URL) and the anchor
    text, e.g. :func:`harvest_links` output with
    ``url_filter.host_col(href)`` projected as ``dst``.

    Returns one row per target: ``(node, n_anchor_links,
    n_unique_anchors, top_anchor, top_anchors)`` — total incoming
    anchored links, distinct anchor strings, the most frequent anchor
    (ties to the lexically smallest — deterministic), and the top-k
    anchors by (count desc, anchor asc) joined with ``" | "``.

    100 TB shape: the corpus-sized frame is aggregated ONCE by
    (dst, anchor) with map-side combine — after that every frame is
    distinct-(target, anchor)-pair sized. The top-k rank is a window
    over that reduced frame partitioned by dst (state = one rank
    counter), and the rank filter runs BEFORE collect_list so
    per-target driver-free state is bounded at ``top_k`` structs —
    no unbounded collect even for a host with millions of distinct
    anchors. NULL/empty anchors drop first (they describe nothing)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    pairs = (
        links.filter(
            F.col(anchor_col).isNotNull() & (F.col(anchor_col) != "")
        )
        .groupBy(
            F.col(dst_col).alias("node"),
            F.col(anchor_col).alias("_anchor"),
        )
        .agg(F.count("*").cast("long").alias("_n"))
    )
    totals = pairs.groupBy("node").agg(
        F.sum("_n").alias("n_anchor_links"),
        F.count("*").cast("long").alias("n_unique_anchors"),
    )
    w = Window.partitionBy("node").orderBy(
        F.col("_n").desc(), F.col("_anchor").asc()
    )
    ranked = pairs.withColumn("_rk", F.row_number().over(w)).filter(
        F.col("_rk") <= top_k
    )
    tops = ranked.groupBy("node").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_rk", "_anchor"))),
                lambda s: s["_anchor"],
            ),
            " | ",
        ).alias("top_anchors"),
        F.min(F.struct("_rk", "_anchor")).alias("_top"),
    )
    return totals.join(tops, "node").select(
        "node", "n_anchor_links", "n_unique_anchors",
        F.col("_top")["_anchor"].alias("top_anchor"), "top_anchors",
    )


def hits(
    edges: "DataFrame",
    iterations: int = 8,
    src_col: str = "src",
    dst_col: str = "dst",
    checkpoint_interval: int = 4,
) -> "DataFrame":
    """Fixed-iteration HITS (Kleinberg 1999) over a (src, dst) edge
    frame → ``(node, hub, authority)`` — the complementary centrality
    pair to PageRank: an AUTHORITY is pointed at by good hubs (cited
    content), a HUB points at good authorities (link directories /
    index pages). Crawl curation uses the split where PageRank's
    single score conflates them — e.g. boilerplate link farms score
    as hubs, not authorities.

    UNNORMALIZED mutual reinforcement:

        a'(v) = Σ_{u→v} h(u)        h'(u) = Σ_{u→v} a'(v)

    with init ``h = 1``. Per-iteration normalization (the textbook
    L2 step) only rescales — the RANKING after k iterations is
    identical — so it is left out: every intermediate stays a
    whole-number double (sums of integers), making fixed-``k`` runs
    exactly reproducible on any engine as long as values stay under
    2^53 (growth is bounded by the graph's principal eigenvalue —
    on curation-sized host graphs with small ``k`` this is far off;
    normalize the RESULT if magnitudes matter downstream).

    Same plan shape as ``pagerank``: self-loops/duplicates removed up
    front, per-round one join + one partial-agg sum per direction on
    the persisted edge frame, eager materialization per round (the
    hub update reads the fresh authority frame), lineage truncation
    every ``checkpoint_interval`` rounds.
    """
    from pyspark.sql import functions as F

    if iterations < 0:
        raise ValueError(f"iterations must be >= 0: {iterations!r}")

    e = (
        edges.select(
            F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
        )
        .filter(
            F.col("src").isNotNull() & F.col("dst").isNotNull()
            & (F.col("src") != F.col("dst"))
        )
        .distinct()
        .persist()
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    scores = nodes.select(
        "node", F.lit(1.0).alias("hub"), F.lit(1.0).alias("authority")
    )
    prev = None
    for i in range(iterations):
        auth = (
            e.join(scores, e["src"] == scores["node"])
            .groupBy("dst")
            .agg(F.sum("hub").alias("_a"))
        )
        new_auth = nodes.join(
            auth, nodes["node"] == auth["dst"], "left"
        ).select(
            nodes["node"],
            F.coalesce(F.col("_a"), F.lit(0.0)).alias("authority"),
        )
        hub = (
            e.join(new_auth, e["dst"] == new_auth["node"])
            .groupBy("src")
            .agg(F.sum("authority").alias("_h"))
        )
        new_scores = (
            nodes.join(hub, nodes["node"] == hub["src"], "left")
            .join(new_auth.withColumnRenamed("node", "_an"),
                  nodes["node"] == F.col("_an"), "left")
            .select(
                nodes["node"],
                F.coalesce(F.col("_h"), F.lit(0.0)).alias("hub"),
                F.coalesce(F.col("authority"), F.lit(0.0))
                .alias("authority"),
            )
        )
        # same eager-materialization argument as pagerank: the round
        # reads its inputs repeatedly; checkpoint bounds lineage
        if checkpoint_interval and (i + 1) % checkpoint_interval == 0:
            new_scores = new_scores.localCheckpoint(eager=True)
        else:
            new_scores = new_scores.persist()
            new_scores.count()
        if prev is not None:
            prev.unpersist()
        prev = new_scores
        scores = new_scores

    e.unpersist()
    nodes.unpersist()
    return scores


def host_score_table(
    docs: "DataFrame",
    url_col: str = "url",
    html_col: str = "html",
    damping: float = 0.85,
    iterations: int = 10,
    teleport: "DataFrame | None" = None,
    options=None,
) -> "DataFrame":
    """Raw crawl (doc_id, url, html) → per-host score table
    ``(node, rank, hub, authority, n_inlinks)`` — the composed
    "build this crawl round's host-quality table" path: extraction
    (meta mode) → href harvest → host edges → PageRank + HITS +
    in-degree, joined on the host. The output is the ``ranks`` input
    of ``filter_low_rank_hosts`` for the NEXT crawl round (and the
    broadcastable host-quality side table for scoring joins).

    Cost shape: one extraction pass (the pipeline usually already
    paid it — pass pre-extracted meta spans through
    ``harvest_links`` directly to skip it here), then everything
    downstream touches only the host-level edge frame."""
    from pyspark.sql import functions as F

    from html_to_document_spark.core.extract import ExtractOptions
    from .extract_spans import (
        exploded_with_meta,
        extract_spans_from_html,
    )

    opts = options or ExtractOptions(with_meta=True)
    spans = exploded_with_meta(
        extract_spans_from_html(
            docs.select(F.col("doc_id"), F.col(html_col).alias("html")),
            options=opts,
        )
    )
    links = harvest_links(spans).join(
        docs.select(
            F.col("doc_id").cast("string").alias("doc_id"),
            F.col(url_col).alias("url"),
        ),
        "doc_id",
    )
    # one lazy checkpoint feeds the eager PageRank/HITS rounds AND the
    # lazy in-degree branch of the returned frame, so the extraction
    # runs once; a persist() released here would leave that branch to
    # re-run the extraction at collect. The ContextCleaner frees the
    # blocks once the result goes out of scope.
    edges = host_edges(links).localCheckpoint(eager=False)
    pr = pagerank(
        edges, damping=damping, iterations=iterations,
        teleport=teleport,
    )
    ha = hits(edges, iterations=iterations)
    ind = in_degree(edges)
    return (
        pr.join(ha, "node", "full")
        .join(ind, "node", "full")
        .select(
            "node",
            F.coalesce("rank", F.lit(0.0)).alias("rank"),
            F.coalesce("hub", F.lit(0.0)).alias("hub"),
            F.coalesce("authority", F.lit(0.0)).alias("authority"),
            F.coalesce("n_inlinks", F.lit(0)).cast("long")
            .alias("n_inlinks"),
        )
    )


def filter_low_rank_hosts(
    df: "DataFrame",
    ranks: "DataFrame",
    min_rank: float,
    url_col: str = "url",
    keep_unranked: bool = True,
) -> "DataFrame":
    """Drop documents whose host's link-graph rank falls below
    ``min_rank`` — the crawl-prioritization use of ``pagerank``
    (CommonCrawl publishes host-level rank files for exactly this).
    ``ranks`` is a (node, rank) frame; hosts absent from it are kept
    by default (no link evidence is not spam evidence — set
    ``keep_unranked=False`` for an allow-list posture).

    100 TB shape (the ``blocked_hosts`` pattern): the rank join runs
    on the corpus's DISTINCT HOST SET (hosts << pages), the resulting
    drop set comes back as a broadcast map-side anti-join on host
    equality, and the corpus itself is never shuffled. The drop set
    is guarded by ``url_filter.MAX_HOT_DOMAINS`` — if more hosts fall
    below the threshold than can broadcast, raise the threshold
    question to the caller instead of silently building a
    corpus-sized join."""
    from pyspark.sql import functions as F

    from .url_filter import MAX_HOT_DOMAINS

    host = host_col(url_col)
    hosts = (
        df.select(host.alias("host"))
        .filter(F.col("host").isNotNull() & (F.col("host") != ""))
        .distinct()
    )
    r = ranks.select(
        F.col("node").alias("host"), F.col("rank").cast("double")
    )
    joined = hosts.join(r, "host", "left")
    if keep_unranked:
        drop = joined.filter(
            F.col("rank").isNotNull() & (F.col("rank") < min_rank)
        )
    else:
        drop = joined.filter(
            F.col("rank").isNull() | (F.col("rank") < min_rank)
        )
    drop = drop.select("host")
    n_drop = drop.limit(MAX_HOT_DOMAINS + 1).count()
    if n_drop > MAX_HOT_DOMAINS:
        raise ValueError(
            f"low-rank host set exceeds MAX_HOT_DOMAINS "
            f"({MAX_HOT_DOMAINS}); lower min_rank or pre-partition "
            f"the corpus — a drop set this size cannot broadcast"
        )
    return df.join(
        F.broadcast(drop), host == drop["host"], "left_anti"
    )


def pagerank(
    edges: "DataFrame",
    damping: float = 0.85,
    iterations: int = 10,
    src_col: str = "src",
    dst_col: str = "dst",
    normalized: bool = False,
    checkpoint_interval: int = 4,
    teleport: "DataFrame | None" = None,
) -> "DataFrame":
    """Fixed-iteration PageRank over a (src, dst) edge frame →
    ``(node, rank)``.

    Power iteration in the UNNORMALIZED convention (init rank 1.0 per
    node, total mass N preserved each round; ``normalized=True``
    divides by N at the end):

        r'(v) = (1-d)·N·t(v) + d * ( Σ_{u→v} r(u)/outdeg(u)
                                     + dangling·t(v) )

    where ``dangling`` is the rank mass sitting on nodes with no
    out-edges and ``t`` is the teleport distribution — uniform 1/N by
    default (the classic Google fix: without redistribution mass
    drains and ranks are not comparable across graphs). Self-loops
    and duplicate edges are removed up front so out-degrees match the
    distinct edge set.

    ``teleport`` switches to PERSONALIZED PageRank (the TrustRank /
    seeded-trust-propagation shape — Gyöngyi, Garcia-Molina, Pedersen
    2004: rank mass teleports only to a vetted seed set, so spam
    hosts far from the seeds starve): a (node, weight) frame whose
    non-negative weights are normalized to sum 1 and broadcast onto
    the node set (nodes absent from the frame get t(v) = 0). Total
    mass N is preserved either way, so scores stay comparable with
    the uniform variant.

    Plan shape per round: one hash join of the persisted edge frame
    with the (node, rank) frame on ``src``, one partial-agg ``sum``
    by ``dst`` (map-side combinable), one broadcast of the single-row
    dangling aggregate, one left join back onto the node set. Nothing
    driver-side grows with the graph; ``iterations`` is fixed, so the
    whole ranking is ``k`` bounded shuffles of a 16-byte-payload
    frame. ``checkpoint_interval`` bounds plan growth with an eager
    ``localCheckpoint`` every that-many rounds (0 disables — only for
    small ``iterations``).
    """
    from pyspark.sql import functions as F

    if not 0.0 < damping < 1.0:
        raise ValueError(f"damping must be in (0, 1): {damping!r}")
    if iterations < 0:
        raise ValueError(f"iterations must be >= 0: {iterations!r}")

    e = (
        edges.select(
            F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
        )
        .filter(
            F.col("src").isNotNull() & F.col("dst").isNotNull()
            & (F.col("src") != F.col("dst"))
        )
        .distinct()
        .persist()
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    n = nodes.count()  # one scalar action; N is needed as a literal
    if n == 0:
        e.unpersist()
        nodes.unpersist()
        return nodes.select(
            "node", F.lit(1.0).alias("rank")
        ).limit(0)

    deg = (
        e.groupBy("src")
        .agg(F.count("*").cast("double").alias("_out_deg"))
        .persist()
    )

    d = float(damping)
    base_nodes = nodes
    if teleport is not None:
        # personalized mode: carry the normalized teleport weight on
        # the node frame; uniform mode stays on the 1/N-free exact
        # formula below (multiplying (1/N)·N back out is not FP-exact)
        t = (
            teleport.select(
                F.col("node"),
                F.col("weight").cast("double").alias("_w"),
            )
            # collapse duplicate seed rows so the left join below
            # cannot fan out the node set
            .groupBy("node")
            .agg(F.sum("_w").alias("_w"))
        )
        joined = (
            base_nodes.join(F.broadcast(t), "node", "left")
            .select(
                "node", F.coalesce(F.col("_w"), F.lit(0.0)).alias("_w")
            )
            .persist()
        )
        # normalize over the weights that actually land on graph
        # nodes — weight on a node absent from the graph would
        # otherwise inflate the denominator and silently leak mass
        total_w = joined.agg(F.sum("_w")).first()[0]
        if not total_w or total_w <= 0:
            raise ValueError(
                "teleport weights must have positive sum on the "
                "graph's node set"
            )
        nodes = joined.select(
            "node", (F.col("_w") / F.lit(float(total_w))).alias("_t")
        )
        ranks = nodes.select(
            "node", (F.col("_t") * F.lit(float(n))).alias("rank")
        )
    else:
        ranks = nodes.select("node", F.lit(1.0).alias("rank"))
    prev = None  # the round's materialized frame, released next round
    for i in range(iterations):
        contrib = (
            e.join(ranks, e["src"] == ranks["node"])
            .join(deg, "src")
            .groupBy("dst")
            .agg(F.sum(F.col("rank") / F.col("_out_deg")).alias("_in"))
        )
        # rank mass on nodes with no out-edges, as a broadcast 1-row
        # frame (never a driver collect inside the loop)
        dangling = F.broadcast(
            ranks.join(deg, ranks["node"] == deg["src"], "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dang"))
        )
        if teleport is not None:
            rank_expr = (
                F.lit((1.0 - d) * float(n)) * F.col("_t")
                + F.lit(d)
                * (
                    F.coalesce(F.col("_in"), F.lit(0.0))
                    + F.col("_dang") * F.col("_t")
                )
            )
        else:
            rank_expr = (
                F.lit(1.0 - d)
                + F.lit(d)
                * (
                    F.coalesce(F.col("_in"), F.lit(0.0))
                    + F.col("_dang") / F.lit(float(n))
                )
            )
        new_ranks = (
            nodes.join(contrib, nodes["node"] == contrib["dst"], "left")
            .crossJoin(dangling)
            .select(nodes["node"], rank_expr.alias("rank"))
        )
        # Each round reads ``ranks`` twice (contrib + dangling), so the
        # round's result MUST materialize eagerly or the unevaluated
        # plan doubles every iteration. localCheckpoint additionally
        # truncates lineage so round k's plan never replays 1..k-1.
        if checkpoint_interval and (i + 1) % checkpoint_interval == 0:
            new_ranks = new_ranks.localCheckpoint(eager=True)
        else:
            new_ranks = new_ranks.persist()
            new_ranks.count()
        if prev is not None:
            prev.unpersist()
        prev = new_ranks
        ranks = new_ranks

    # after the loop the final frame is materialized (persisted or
    # checkpointed; with iterations=0 it is a cheap projection that
    # recomputes from source) — the loop inputs release their blocks
    e.unpersist()
    deg.unpersist()
    base_nodes.unpersist()
    if teleport is not None:
        joined.unpersist()

    if normalized:
        ranks = ranks.select(
            "node", (F.col("rank") / F.lit(float(n))).alias("rank")
        )
    return ranks
