"""Link-graph operators: href harvest from extracted spans, host-level
edges, in-degree, and fixed-iteration PageRank (hand-computed values,
dangling redistribution, mass conservation, checkpointed long runs)."""

import math

from pyspark.sql import functions as F

from html_to_document_spark.core.extract import ExtractOptions
from html_to_document_spark.operators.extract_spans import (
    exploded_with_meta,
    extract_spans_from_html,
)
from html_to_document_spark.operators.link_graph import (
    harvest_links,
    host_edges,
    in_degree,
    pagerank,
)


def _edges(spark, pairs):
    return spark.createDataFrame(list(pairs), "src string, dst string")


def _ranks(df):
    return {r["node"]: r["rank"] for r in df.collect()}


def test_two_node_cycle_fixed_point(spark):
    # a <-> b is already the fixed point: r' = (1-d) + d*r = 1 exactly
    got = _ranks(pagerank(_edges(spark, [("a", "b"), ("b", "a")]),
                          damping=0.5, iterations=3))
    assert got == {"a": 1.0, "b": 1.0}


def test_hand_computed_two_iterations(spark):
    # A->B, A->C, B->C, C->A with d=0.5 (all values dyadic => exact):
    # r1 = (A 1.0, B 0.75, C 1.25); r2 = (A 1.125, B 0.75, C 1.125)
    e = _edges(spark, [("A", "B"), ("A", "C"), ("B", "C"), ("C", "A")])
    assert _ranks(pagerank(e, damping=0.5, iterations=1)) == {
        "A": 1.0, "B": 0.75, "C": 1.25,
    }
    assert _ranks(pagerank(e, damping=0.5, iterations=2)) == {
        "A": 1.125, "B": 0.75, "C": 1.125,
    }


def test_dangling_mass_redistributed(spark):
    # A->B, B dangles. d=0.5, n=2: B's mass 1 redistributes /2 to both:
    # r1(A) = 0.5 + 0.5*(0 + 1/2) = 0.75
    # r1(B) = 0.5 + 0.5*(1 + 1/2) = 1.25   (mass conserved: sum = 2)
    got = _ranks(pagerank(_edges(spark, [("A", "B")]),
                          damping=0.5, iterations=1))
    assert got == {"A": 0.75, "B": 1.25}


def test_self_loops_and_duplicate_edges_ignored(spark):
    base = pagerank(_edges(spark, [("A", "B")]), damping=0.5,
                    iterations=2)
    noisy = pagerank(
        _edges(spark, [("A", "B"), ("A", "B"), ("A", "A"), ("B", "B")]),
        damping=0.5, iterations=2,
    )
    assert _ranks(base) == _ranks(noisy)


def test_mass_conserved_long_run_with_checkpoints(spark):
    # deterministic 20-node graph incl. dangling nodes; 10 rounds with
    # checkpoint_interval=3 exercises both materialization paths
    pairs = [(f"n{i}", f"n{(3 * i + 1) % 20}") for i in range(20)
             if i % 7 != 0] + [(f"n{i}", f"n{(i + 5) % 20}")
                               for i in range(0, 20, 2)]
    ranks = _ranks(pagerank(_edges(spark, pairs), damping=0.85,
                            iterations=10, checkpoint_interval=3))
    n = len(ranks)
    assert math.isclose(sum(ranks.values()), float(n), rel_tol=1e-9)
    assert all(r > 0.1499 for r in ranks.values())  # >= (1-d)


def test_normalized_and_zero_iterations(spark):
    e = _edges(spark, [("A", "B"), ("B", "C"), ("C", "A")])
    assert _ranks(pagerank(e, iterations=0)) == {
        "A": 1.0, "B": 1.0, "C": 1.0,
    }
    norm = _ranks(pagerank(e, damping=0.5, iterations=4,
                           normalized=True))
    assert math.isclose(sum(norm.values()), 1.0, rel_tol=1e-12)


def test_personalized_seed_starves_unreachable(spark):
    # TrustRank shape: all teleport mass on seed A; C links in but
    # nothing links to C and it gets no teleport, so C starves.
    # d=0.5, n=3, init r = n*t = (3,0,0) — all values dyadic => exact:
    # round 1: (1.5, 1.5, 0); round 2: (2.25, 0.75, 0)
    e = _edges(spark, [("A", "B"), ("B", "A"), ("C", "A")])
    seeds = spark.createDataFrame([("A", 1.0)], "node string, weight double")
    assert _ranks(pagerank(e, damping=0.5, iterations=1,
                           teleport=seeds)) == {
        "A": 1.5, "B": 1.5, "C": 0.0,
    }
    assert _ranks(pagerank(e, damping=0.5, iterations=2,
                           teleport=seeds)) == {
        "A": 2.25, "B": 0.75, "C": 0.0,
    }


def test_personalized_dangling_mass_follows_teleport(spark):
    # A->B with B dangling and all teleport on A: B's mass returns
    # entirely to A (not uniformly). d=0.5, n=2, init (2, 0):
    # round 1: (1, 1); round 2: A = 1 + 0.5*1 = 1.5, B = 0.5
    e = _edges(spark, [("A", "B")])
    seeds = spark.createDataFrame([("A", 4.0)], "node string, weight double")
    assert _ranks(pagerank(e, damping=0.5, iterations=2,
                           teleport=seeds)) == {"A": 1.5, "B": 0.5}


def test_personalized_uniform_equals_default(spark):
    # equal weights over all 4 nodes => t = 1/4 (dyadic), so the
    # personalized path must reproduce the default bit for bit
    pairs = [("A", "B"), ("A", "C"), ("B", "C"), ("C", "A"), ("D", "A")]
    e = _edges(spark, pairs)
    uni = spark.createDataFrame(
        [(x, 2.0) for x in "ABCD"], "node string, weight double"
    )
    assert _ranks(pagerank(e, damping=0.5, iterations=3)) == _ranks(
        pagerank(e, damping=0.5, iterations=3, teleport=uni)
    )


def test_personalized_off_graph_weight_ignored(spark):
    # weight on a node outside the graph must not dilute the seeds
    e = _edges(spark, [("A", "B"), ("B", "A"), ("C", "A")])
    just_a = spark.createDataFrame(
        [("A", 1.0)], "node string, weight double"
    )
    with_ghost = spark.createDataFrame(
        [("A", 1.0), ("Z", 5.0)], "node string, weight double"
    )
    assert _ranks(
        pagerank(e, damping=0.5, iterations=2, teleport=just_a)
    ) == _ranks(
        pagerank(e, damping=0.5, iterations=2, teleport=with_ghost)
    )

    import pytest

    only_ghost = spark.createDataFrame(
        [("Z", 5.0)], "node string, weight double"
    )
    with pytest.raises(ValueError, match="positive sum"):
        pagerank(e, iterations=1, teleport=only_ghost)


def test_personalized_duplicate_seed_rows_collapse(spark):
    e = _edges(spark, [("A", "B"), ("B", "A"), ("C", "A")])
    once = spark.createDataFrame(
        [("A", 2.0)], "node string, weight double"
    )
    twice = spark.createDataFrame(
        [("A", 1.0), ("A", 1.0)], "node string, weight double"
    )
    out = pagerank(e, damping=0.5, iterations=2, teleport=twice)
    assert out.count() == 3  # dup seed rows must not fan out nodes
    assert _ranks(out) == _ranks(
        pagerank(e, damping=0.5, iterations=2, teleport=once)
    )


def test_empty_edges(spark):
    out = pagerank(_edges(spark, []).limit(0), iterations=3)
    assert out.count() == 0
    assert out.columns == ["node", "rank"]


def test_in_degree(spark):
    got = {
        r["node"]: r["n_inlinks"]
        for r in in_degree(
            _edges(spark, [("A", "B"), ("C", "B"), ("B", "A"),
                           ("C", "B")])  # dup edge counts once
        ).collect()
    }
    assert got == {"B": 2, "A": 1}


def test_harvest_and_host_edges_from_real_extraction(spark):
    # edges come out of the extraction engine's span meta, not a
    # second HTML parse; relative hrefs drop at host granularity and
    # self-host links drop under drop_self
    docs = spark.createDataFrame(
        [
            (1, "http://one.example.org/p",
             '<p><a href="http://two.example.org/x">to two</a></p>'
             '<p><a href="/relative">rel</a></p>'),
            (2, "http://two.example.org/q",
             '<p><a href="HTTP://One.Example.org/y">to one</a></p>'
             '<p><a href="http://two.example.org/self">self</a></p>'),
        ],
        "doc_id long, url string, html string",
    )
    spans = exploded_with_meta(
        extract_spans_from_html(
            docs.select("doc_id", "html"),
            options=ExtractOptions(with_meta=True),
        )
    )
    links = harvest_links(spans)
    got_links = {
        (r["doc_id"], r["href"], r["anchor_text"])
        for r in links.collect()
    }
    # chunk meta records the FIRST href of each chunk, so per-anchor
    # harvesting wants one block per anchor; doc_id rides as string
    assert ("1", "http://two.example.org/x", "to two") in got_links
    assert ("1", "/relative", "rel") in got_links
    assert ("2", "http://two.example.org/self", "self") in got_links

    docs_s = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"), "url"
    )
    edges = host_edges(links.join(docs_s, "doc_id"))
    got_edges = {(r["src"], r["dst"]) for r in edges.collect()}
    assert got_edges == {
        ("one.example.org", "two.example.org"),
        ("two.example.org", "one.example.org"),
    }

    with_self = host_edges(links.join(docs_s, "doc_id"),
                           drop_self=False)
    assert ("two.example.org", "two.example.org") in {
        (r["src"], r["dst"]) for r in with_self.collect()
    }


def test_pagerank_plan_no_python_and_bounded_joins(spark):
    # the per-round plan is joins + hash aggregates — no Python
    # evaluation anywhere in the rank computation
    e = _edges(spark, [("A", "B"), ("B", "C"), ("C", "A"), ("A", "C")])
    out = pagerank(e, damping=0.5, iterations=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan


def test_filter_low_rank_hosts(spark):
    from html_to_document_spark.operators.link_graph import (
        filter_low_rank_hosts,
    )

    docs = spark.createDataFrame(
        [
            (1, "http://good.example.org/a"),
            (2, "http://spam.example.biz/b"),
            (3, "http://unranked.example.net/c"),
            (4, "not a url"),
        ],
        "doc_id long, url string",
    )
    ranks = spark.createDataFrame(
        [("good.example.org", 2.5), ("spam.example.biz", 0.05)],
        "node string, rank double",
    )
    kept = {
        r["doc_id"]
        for r in filter_low_rank_hosts(docs, ranks, 0.2).collect()
    }
    # spam host dropped; unranked + unparsable kept by default
    assert kept == {1, 3, 4}

    strict = {
        r["doc_id"]
        for r in filter_low_rank_hosts(
            docs, ranks, 0.2, keep_unranked=False
        ).collect()
    }
    # allow-list posture: only ranked-above-threshold hosts survive;
    # the unparsable-URL row has no host and never enters the drop set
    assert strict == {1, 4}


def test_hits_hand_computed(spark):
    from html_to_document_spark.operators.link_graph import hits

    # A->B, A->C, B->C, C->A; init h=1:
    # r1: a=(A1,B1,C2) h=(A3,B2,C1); r2: a=(A1,B3,C5) h=(A8,B5,C1)
    e = _edges(spark, [("A", "B"), ("A", "C"), ("B", "C"), ("C", "A")])
    got = {r["node"]: (r["hub"], r["authority"])
           for r in hits(e, iterations=2).collect()}
    assert got == {"A": (8.0, 1.0), "B": (5.0, 3.0), "C": (1.0, 5.0)}


def test_hits_sources_and_sinks(spark):
    from html_to_document_spark.operators.link_graph import hits

    # pure hub (no in-edges) has authority 0; pure authority (no
    # out-edges) has hub 0 — the split PageRank conflates
    e = _edges(spark, [("hubpage", "content1"), ("hubpage", "content2"),
                       ("other", "content1")])
    got = {r["node"]: (r["hub"], r["authority"])
           for r in hits(e, iterations=3).collect()}
    assert got["hubpage"][1] == 0.0 and got["content1"][0] == 0.0
    # the two-outlink hub out-scores the one-outlink hub; the
    # two-inlink authority out-scores the one-inlink one
    assert got["hubpage"][0] > got["other"][0]
    assert got["content1"][1] > got["content2"][1]


def test_hits_long_run_checkpointed_stays_integral(spark):
    from html_to_document_spark.operators.link_graph import hits

    pairs = [(f"n{i}", f"n{(3 * i + 1) % 12}") for i in range(12)
             if i % 5 != 0] + [(f"n{i}", f"n{(i + 4) % 12}")
                               for i in range(0, 12, 2)]
    out = hits(_edges(spark, pairs), iterations=8,
               checkpoint_interval=3).collect()
    expected_nodes = {s for s, _ in pairs} | {d for _, d in pairs}
    assert {r["node"] for r in out} == expected_nodes  # n5 is isolated
    for r in out:
        # unnormalized scores are sums of integers — exactly whole
        assert r["hub"] == int(r["hub"])
        assert r["authority"] == int(r["authority"])
    assert any(r["hub"] > 0 for r in out)


def test_host_score_table_end_to_end(spark):
    from html_to_document_spark.operators.link_graph import (
        host_score_table,
    )

    # one.example.org <-> two.example.org, three links in to two
    docs = spark.createDataFrame(
        [
            (1, "http://one.example.org/p",
             '<p><a href="http://two.example.org/x">two</a></p>'),
            (2, "http://two.example.org/q",
             '<p><a href="http://one.example.org/y">one</a></p>'),
            (3, "http://three.example.org/r",
             '<p><a href="http://two.example.org/z">two</a></p>'),
        ],
        "doc_id long, url string, html string",
    )
    out = {r["node"]: r for r in host_score_table(
        docs, damping=0.5, iterations=4
    ).collect()}
    assert set(out) == {"one.example.org", "two.example.org",
                        "three.example.org"}
    # two gets in-links from both others; three gets none
    assert out["two.example.org"]["n_inlinks"] == 2
    assert out["three.example.org"]["n_inlinks"] == 0
    assert out["two.example.org"]["rank"] > out["three.example.org"]["rank"]
    assert out["two.example.org"]["authority"] > 0.0
    # mass conserved across the composed path (3 nodes)
    total = sum(r["rank"] for r in out.values())
    assert abs(total - 3.0) < 1e-9


def test_host_score_table_extracts_each_doc_once(spark):
    """The lazy in-degree branch of the result must read the same
    materialized edge frame as the eager PageRank/HITS rounds: the
    extraction UDF sees every doc exactly once, build plus collect."""
    from html_to_document_spark.operators import extract_spans as ES
    from html_to_document_spark.operators.link_graph import (
        host_score_table,
    )

    n_docs = 40
    docs = spark.createDataFrame(
        [
            (i, f"http://h{i % 7}.example.org/p{i}",
             f'<p><a href="http://h{(i + 1 + i % 3) % 7}.example.org/x">'
             f"link {i}</a></p>")
            for i in range(n_docs)
        ],
        "doc_id long, url string, html string",
    )
    acc = spark.sparkContext.accumulator(0)
    ES._ROWS_PROCESSED_ACCUMULATOR = acc
    try:
        rows = host_score_table(docs, iterations=3).collect()
    finally:
        ES._ROWS_PROCESSED_ACCUMULATOR = None
    assert len(rows) == 7
    assert acc.value == n_docs, (
        f"extraction UDF processed {acc.value} rows for {n_docs} docs"
    )


def test_anchor_text_profile_counts_ranks_and_caps(spark):
    from pyspark.sql import functions as F

    from html_to_document_spark.operators.link_graph import (
        anchor_text_profile,
    )

    rows = (
        [("h1", "click here")] * 3
        + [("h1", "best site")] * 3
        + [("h1", "misc")]
        + [("h1", "")]
        + [("h1", None)]
        + [("h2", "only")]
    )
    df = spark.createDataFrame(rows, "dst string, anchor_text string")
    got = {r["node"]: r for r in anchor_text_profile(df, top_k=2).collect()}
    h1 = got["h1"]
    # NULL/empty anchors dropped from every stat
    assert h1["n_anchor_links"] == 7
    assert h1["n_unique_anchors"] == 3
    # count tie (3-3) broken to the lexically smallest anchor
    assert h1["top_anchor"] == "best site"
    # top_k caps the concat, ordered (count desc, anchor asc)
    assert h1["top_anchors"] == "best site | click here"
    assert got["h2"]["top_anchor"] == "only"
    assert got["h2"]["top_anchors"] == "only"
    # rank filter survives to the optimized plan (it is what bounds
    # per-node aggregation state at top_k structs)
    plan = (
        anchor_text_profile(df, top_k=2)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "_rk" in plan and "row_number" in plan
