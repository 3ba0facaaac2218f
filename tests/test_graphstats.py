"""KG structure analytics: degrees, hubs, predicate histogram — the
salted two-phase counts must equal naive aggregation even with a hub
node far above the heavy-hitter threshold."""

from __future__ import annotations

from pyspark.sql import functions as F

from jsonld_spark.operators.graphstats import (node_degrees,
                                               predicate_histogram,
                                               top_hubs)


def _triples(spark, rows):
    cols = "doc_id string, graph string, subj string, pred string, " \
           "obj_kind string, obj_value string, obj_datatype string, " \
           "obj_lang string"
    return spark.createDataFrame(rows, cols)


def _row(subj, pred, kind, obj):
    return ("d", "@default", subj, pred, kind, obj, None, None)


def test_node_degrees_with_hub_skew(spark):
    # hub: 500 out-edges (every target unique) + 300 in-edges
    rows = [_row("http://hub", "http://p%d" % (i % 3), "iri",
                 "http://t%d" % i) for i in range(500)]
    rows += [_row("http://s%d" % i, "http://q", "iri", "http://hub")
             for i in range(300)]
    rows += [_row("http://s0", "http://lit", "literal", "http://hub")]
    df = _triples(spark, rows)
    # threshold low enough that the full-count sketch flags the hub
    deg = {r.node: (r.out_degree, r.in_degree)
           for r in node_degrees(df, heavy_threshold=100,
                                 sample_fraction=1.0).collect()}
    assert deg["http://hub"] == (500, 300)
    assert deg["http://s0"] == (2, 0)      # literal row counts as out only
    assert deg["http://t7"] == (0, 1)
    assert "http://lit-target" not in deg  # literals are not nodes

    hubs = top_hubs(df, k=1, heavy_threshold=100,
                    sample_fraction=1.0).collect()
    assert hubs[0].node == "http://hub" and hubs[0].degree == 800


def test_predicate_histogram_counts(spark):
    rows = [_row("http://a", "http://p", "iri", "http://x"),
            _row("http://a", "http://p", "iri", "http://y"),
            _row("http://b", "http://p", "literal", "v"),
            _row("http://b", "http://q", "literal", "w")]
    got = {r.pred: (r.n_triples, r.n_subjects)
           for r in predicate_histogram(_triples(spark, rows)).collect()}
    assert got == {"http://p": (3, 2), "http://q": (1, 1)}


def test_pagerank_matches_power_iteration(spark):
    """Spark PageRank vs a dense numpy power iteration with identical
    damping + uniform dangling redistribution."""
    import numpy as np

    from jsonld_spark.operators.graphstats import pagerank

    # a small graph with a dangling node (3 has no out-edges) and a hub
    edges = [(0, 1), (0, 2), (1, 2), (2, 0), (0, 3), (4, 2), (4, 0)]
    nodes = sorted({x for e in edges for x in e})
    n = len(nodes)
    d = 0.85
    M = np.zeros((n, n))
    for s, t in edges:
        M[t, s] += 1
    out = M.sum(axis=0)
    dangling = out == 0
    with np.errstate(divide="ignore", invalid="ignore"):
        M = np.where(out > 0, M / out, 0.0)
    r = np.full(n, 1.0 / n)
    for _ in range(40):
        r = (1 - d) / n + d * (M @ r + r[dangling].sum() / n)

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {row.node: row.rank
           for row in pagerank(df, damping=d, max_iter=40,
                               tol=None).collect()}
    assert set(got) == set(nodes)
    assert abs(sum(got.values()) - 1.0) < 1e-9
    for i in nodes:
        assert abs(got[i] - r[i]) < 1e-9, (i, got[i], r[i])


def test_pagerank_tol_early_stop_and_empty(spark):
    from jsonld_spark.operators.graphstats import pagerank

    empty = spark.createDataFrame([], "src long, dst long")
    assert pagerank(empty).count() == 0

    # a 2-cycle converges immediately to the uniform distribution;
    # tol stops well before max_iter and the result is exact
    df = spark.createDataFrame([(0, 1), (1, 0)], "src long, dst long")
    got = {r.node: r.rank for r in
           pagerank(df, max_iter=50, tol=1e-12).collect()}
    assert abs(got[0] - 0.5) < 1e-12 and abs(got[1] - 0.5) < 1e-12
