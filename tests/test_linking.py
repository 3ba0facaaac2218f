"""Connected components: driver union-find fast path == distributed
fixpoint (pointer-jumping label propagation)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from jsonld_spark.operators.linking import connected_components


def _edges(spark):
    # chain runs of 7, a star, a self-loop, and an isolated pair
    rows = ([(i, i + 1) for i in range(40) if i % 7 != 6]
            + [(100, 100 + k) for k in range(1, 6)]
            + [(200, 200), (300, 301)])
    return spark.createDataFrame(rows, "src long, dst long")


@pytest.mark.parametrize("threshold", [1_000_000, 0],
                         ids=["driver-union-find", "distributed-fixpoint"])
def test_components_both_paths(spark, threshold):
    cc = connected_components(_edges(spark), small_graph_edges=threshold)
    got = {r.node: r.component for r in cc.collect()}
    for i in range(41):
        assert got[i] == 7 * (i // 7)
    assert all(got[100 + k] == 100 for k in range(6))
    assert got[200] == 200
    assert got[300] == 300 and got[301] == 300


def test_paths_agree_on_string_ids(spark):
    edges = spark.createDataFrame(
        [("b", "c"), ("a", "b"), ("x", "y")], "src string, dst string")
    fast = connected_components(edges).collect()
    dist = connected_components(edges, small_graph_edges=0).collect()
    assert sorted(map(tuple, fast)) == sorted(map(tuple, dist))


def test_link_triples_prefers_iri_rep_over_bnode(spark):
    """Review regression: '_:' sorts before 'http', so a component
    containing a blank node elected the bnode as canonical and
    rewrote real IRIs to a blank-node label. The min IRI member now
    represents; all-bnode components keep the min bnode."""
    from jsonld_spark.operators.linking import link_triples
    comps = spark.createDataFrame(
        [("_:b1", "_:b1"), ("http://x", "_:b1"), ("http://y", "_:b1"),
         ("_:c1", "_:c0"), ("_:c0", "_:c0")],
        "node string, component string")
    t = spark.createDataFrame(
        [("http://y", "http://p", "iri", "http://x"),
         ("http://other", "http://p", "iri", "_:b1"),
         ("_:c1", "http://p", "literal", "v")],
        "subj string, pred string, obj_kind string, obj_value string")
    got = {(r["subj"], r["obj_value"])
           for r in link_triples(
               t, comps, rewrite_kinds=("iri", "bnode")).collect()}
    # http://x (min IRI) represents the bnode-containing component
    assert ("http://x", "http://x") in got
    assert ("http://other", "http://x") in got
    # all-bnode component keeps its min bnode rep
    assert ("_:c0", "v") in got


def test_link_triples_shuffled_path_skips_literal_obj_join(spark):
    """Review perf fix: in the non-broadcast path only rewrite-
    eligible rows join on obj_value — literal rows must survive
    unchanged and the result must equal the broadcast path."""
    from jsonld_spark.operators.linking import link_triples
    comps = spark.createDataFrame(
        [("http://a", "http://a"), ("http://b", "http://a")],
        "node string, component string")
    t = spark.createDataFrame(
        [("http://b", "http://p", "iri", "http://b"),
         ("http://b", "http://q", "literal", "http://b")],
        "subj string, pred string, obj_kind string, obj_value string")
    want = {("http://a", "http://p", "http://a"),
            ("http://a", "http://q", "http://b")}
    for bmax in (1_000_000, 0):
        got = {(r["subj"], r["pred"], r["obj_value"])
               for r in link_triples(t, comps,
                                     broadcast_max_rows=bmax).collect()}
        assert got == want, bmax


def test_driver_cc_numpy_chains_strings_and_dups(spark):
    """The vectorized driver union-find (numpy min-label fixpoint) must
    label long chains, string node ids, duplicate and reversed edges
    identically to the contract: component = min reachable id."""
    from jsonld_spark.operators.linking import connected_components
    # 0-1-2-...-40 chain (tests pointer-doubling convergence), plus a
    # reversed/duplicated edge pair and an isolated 2-cycle
    edges = [(i, i + 1) for i in range(40)]
    edges += [(1, 0), (5, 4), (100, 101), (101, 100)]
    cc = connected_components(
        spark.createDataFrame(edges, "src long, dst long"))
    got = {r["node"]: r["component"] for r in cc.collect()}
    assert all(got[i] == 0 for i in range(41))
    assert got[100] == 100 and got[101] == 100
    # string ids: lexicographic min is the representative
    s_edges = [("b", "a"), ("c", "b"), ("zz", "z")]
    cc2 = connected_components(
        spark.createDataFrame(s_edges, "src string, dst string"))
    got2 = {r["node"]: r["component"] for r in cc2.collect()}
    assert got2 == {"a": "a", "b": "a", "c": "a", "z": "z", "zz": "z"}


def _chain(spark, n):
    return spark.createDataFrame([(i, i + 1) for i in range(n - 1)],
                                 "src long, dst long")


def test_distributed_cc_raises_when_max_iter_exhausted(spark):
    """A forced-distributed chain that cannot converge in ``max_iter``
    rounds raises instead of returning partial labels."""
    with pytest.raises(RuntimeError, match="max_iter"):
        connected_components(_chain(spark, 64), small_graph_edges=0,
                             max_iter=2)


def test_distributed_cc_job_count(spark):
    """Every round is one observed lineage cut: no per-round convergence
    action, and no re-planning of lazily cached rounds. The previous
    loop (cut every 5 rounds, persist + limit(1).count() in between)
    ran 71 jobs on this chain."""
    sc = spark.sparkContext
    sc.setJobGroup("cc_job_count", "forced-distributed CC, 64-chain")
    try:
        got = connected_components(_chain(spark, 64),
                                   small_graph_edges=0).collect()
        jobs = sc.statusTracker().getJobIdsForGroup("cc_job_count")
    finally:
        sc.setJobGroup(None, None)
    assert {r.component for r in got} == {0} and len(got) == 64
    assert len(jobs) <= 59


def test_distributed_cc_reliable_checkpoint(spark, tmp_path):
    """With a checkpoint dir the rounds are reliable checkpoints; the
    observed convergence count and the labels are unchanged."""
    sc = spark.sparkContext
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        got = {r.node: r.component for r in connected_components(
            _edges(spark), small_graph_edges=0).collect()}
    finally:
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            sc._jvm.scala.Option.apply(None))
    assert all(got[i] == 7 * (i // 7) for i in range(41))
    assert got[300] == 300 and got[301] == 300
