"""Entity linking: connected components over equivalence edges.

No reference analogue (SURVEY.md §2.3 "Joins"): merges coreferent
IRIs/blank nodes (e.g. ``owl:sameAs`` edges, media_ref↔doc links) by
computing connected components with iterative min-label propagation —
a driver fixpoint loop of joins/aggregations (``session.fixpoint``):
every round is materialized once by a lineage cut, and the count of
changed labels is observed on that same job (SURVEY.md §4 item 2).

Scale notes: plain min-label propagation converges in O(diameter)
rounds — fine for the short equivalence chains real KG data produces
(doc-local bnode cliques, sameAs runs). For adversarially long chains
the large-star/small-star scheme (Kiveris et al. 2014, "Connected
Components in MapReduce and Beyond") converges in O(log² n) rounds at
the cost of two shuffles per round — worth swapping in only if label
propagation fails to converge within ``max_iter`` (which raises).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import fixpoint, local_frame, observed_cut, reuse

# Driver-CC threshold (distinct edges). An edge row is two longs (16 B),
# so 32 M edges is ~0.5 GB of driver arrays; the vectorized numpy
# fixpoint below handles that in seconds, where the distributed fixpoint
# pays 3 shuffles + one job PER ROUND. STRING-node graphs (IRIs,
# 40–120 B per term) are capped lower — the same edge count costs an
# order of magnitude more driver memory as Python objects. Both bounds
# are memory budgets, env-parameterised for other driver sizes; beyond
# them the distributed min-label fixpoint takes over, exactly as before.
DRIVER_CC_MAX_EDGES = int(os.environ.get("JSONLD_CC_DRIVER_MAX_EDGES",
                                         32_000_000))
DRIVER_CC_MAX_STRING_EDGES = int(os.environ.get(
    "JSONLD_CC_DRIVER_MAX_STRING_EDGES", "4000000"))


def _driver_union_find(rows, spark, schema):
    """Small-graph fast path: vectorized min-label fixpoint on the
    driver (numpy) — the CC analogue of a broadcast join. ``rows`` is a
    pandas DataFrame (Arrow-collected) or a list of 2-tuples. Each
    round relaxes every edge (scatter-min of neighbor labels) and then
    fully compresses label chains by pointer doubling; with full
    compression the outer loop converges in a handful of rounds.
    Component = min node id reachable — identical semantics to the
    distributed path (np.unique sorts ascending; for strings, numpy
    object comparison is code-point order == Spark's UTF8 binary
    order, so index order == value order on both types)."""
    import numpy as np
    import pandas as pd

    if isinstance(rows, pd.DataFrame):
        src = rows.iloc[:, 0].to_numpy()
        dst = rows.iloc[:, 1].to_numpy()
    else:
        src = np.array([r[0] for r in rows])
        dst = np.array([r[1] for r in rows])
    if len(src) == 0:
        return local_frame(spark, [], schema)
    nodes, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    s, d = inv[:len(src)], inv[len(src):]
    label = np.arange(len(nodes), dtype=np.int64)
    while True:
        prev = label
        lab = label.copy()
        # edge relaxation both directions (undirected reachability)
        np.minimum.at(lab, d, label[s])
        np.minimum.at(lab, s, label[d])
        while True:  # pointer doubling to full compression
            l2 = lab[lab]
            if np.array_equal(l2, lab):
                break
            lab = l2
        if np.array_equal(lab, prev):
            break
        label = lab
    out = pd.DataFrame({"node": nodes, "component": nodes[label]})
    return spark.createDataFrame(out, schema)


def connected_components(edges: DataFrame, src: str = "src", dst: str = "dst",
                         max_iter: int = 50,
                         small_graph_edges: int | None = None,
                         assume_distinct: bool = False) -> DataFrame:
    """edges(src,dst) → (node, component) where component = min node id
    reachable. Node ids must be orderable (long or string).

    Graphs under ``small_graph_edges`` distinct edges (default
    ``DRIVER_CC_MAX_EDGES``, env-overridable) run the driver-side
    vectorized union-find (one Arrow collect) instead of the
    distributed fixpoint — the same scale-adaptivity Catalyst applies
    when it broadcasts a small join side. Set to 0 to force the
    distributed path, which raises ``RuntimeError`` if labels are still
    changing after ``max_iter`` rounds."""
    if small_graph_edges is None:
        from pyspark.sql.types import LongType, IntegerType
        numeric = isinstance(edges.schema[src].dataType,
                             (LongType, IntegerType))
        small_graph_edges = (DRIVER_CC_MAX_EDGES if numeric
                             else DRIVER_CC_MAX_STRING_EDGES)
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")) \
             .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
    if not assume_distinct:
        # callers that PROVE uniqueness (the collapse-first pair
        # generators) skip this exchange; the numpy fixpoint tolerates
        # duplicate edges either way
        e = e.dropDuplicates()
    if small_graph_edges:
        # the size probe is an exact count observed on the job that
        # materializes the edges both paths then read
        e, n_edges = observed_cut(e, F.count(F.lit(1)))
        if n_edges <= small_graph_edges:
            schema = e.select(F.col("src").alias("node"),
                              F.col("src").alias("component")).schema
            return _driver_union_find(e.toPandas(), e.sparkSession, schema)
    # undirected: keep both directions once; read every round
    sym = reuse(e.unionByName(e.select(F.col("dst").alias("src"),
                                       F.col("src").alias("dst")))
                .dropDuplicates())
    # init fuses the first relaxation round: label(node) = min(node,
    # neighbors) from ONE groupBy over the symmetric edges (the same
    # rows the old distinct scanned) — one fewer 3-join round through
    # the fixpoint, identical fixpoint result
    labels = (sym.groupBy(F.col("src").alias("node"))
              .agg(F.least(F.min("dst"), F.col("src")).alias("component"))
              .persist())

    def relax(labels):
        # message passing: each node offers its label to its neighbors
        msgs = (sym.join(labels, sym.src == labels.node)
                .select(F.col("dst").alias("node"),
                        F.col("component").alias("cand")))
        mins = msgs.groupBy("node").agg(F.min("cand").alias("cand"))
        stepped = (labels.join(mins, "node", "left")
                   .select("node", F.col("component").alias("_old"),
                           F.least("component", "cand").alias("component")))
        # pointer jumping (path halving): also adopt the label OF my
        # label — rounds drop from O(diameter) to O(log diameter)
        ptr = stepped.select(F.col("node").alias("component"),
                             F.col("component").alias("_jump"))
        return (stepped.join(ptr, "component", "left")
                .select("node", "_old",
                        F.least("component", "_jump").alias("component")))

    # labels only ever decrease (least skips a null cand/_jump), so a
    # node changed this round iff its label dropped below the old one
    changed = F.count_if(F.col("component") < F.col("_old"))
    labels, converged = fixpoint(labels, relax, changed,
                                 lambda _, n: n == 0, max_iter)
    if not converged:
        raise RuntimeError(f"connected_components: labels still changing "
                           f"after max_iter={max_iter} rounds")
    return labels.select("node", "component")


def label_clusters(ids: DataFrame, pairs: DataFrame, id_col: str,
                   src: str = "id_a", dst: str = "id_b",
                   assume_distinct: bool = False) -> DataFrame:
    """(id) universe + pair edges → (id, rep, cluster_n): every id
    labeled with the min id reachable through the pairs (connected
    components; singletons are their own rep) plus the cluster size.
    The shared resolution step behind text and embedding dedup
    clustering — "keep iff id == rep" is the downstream filter."""
    cc = connected_components(pairs, src=src, dst=dst,
                              assume_distinct=assume_distinct) \
        .select(F.col("node").alias(id_col), F.col("component").alias("rep"))
    # labeled feeds both the size aggregate and the final join
    labeled = reuse(ids.select(id_col).join(cc, id_col, "left")
                    .withColumn("rep", F.coalesce("rep", F.col(id_col))))
    sizes = labeled.groupBy("rep").agg(F.count(F.lit(1)).alias("cluster_n"))
    return labeled.join(sizes, "rep").select(id_col, "rep", "cluster_n")


def link_triples(triples: DataFrame, components: DataFrame,
                 broadcast_max_rows: int = 1_000_000,
                 rewrite_kinds: tuple[str, ...] = ("iri",),
                 prefer_iri_reps: bool = True) -> DataFrame:
    """Rewrite subj/obj IRIs to their component-canonical IRI.
    ``components``: (node, component) — broadcast when small (counted on
    its lineage cut, same scale-adaptivity as ``connected_components``),
    else two shuffled left joins on subj and obj (AQE picks the physical
    strategy). At 10^12 docs the component map has billions of rows —
    an unconditional broadcast would OOM the driver; set
    ``broadcast_max_rows=0`` to force the shuffled path (skips the
    materialization entirely and lets AQE pick).

    ``rewrite_kinds`` — object kinds eligible for rewriting (subjects
    always rewrite). Default ('iri',) preserves the original contract;
    pass ('iri', 'bnode') when blank nodes participate in equivalence
    (e.g. owl:sameAs fusion — bnodes are mergeable coreferents too).

    ``prefer_iri_reps`` — connected_components elects the
    lexicographic-min node, and ``_:`` sorts before ``http``, so a
    component containing any blank node would elect the BNODE as
    canonical and rewrite real IRIs to a blank-node label (review
    finding). When True (default) each component re-elects the min
    IRI member as its representative, falling back to the min node
    only for all-bnode components (one aggregate over the component
    map, skipped entirely when no node is a bnode)."""
    small = False
    if broadcast_max_rows:
        # materialize once (counting on the same job) so the two joins
        # share one computation of the possibly expensive upstream
        # lineage — e.g. a CC fixpoint would otherwise run per join
        components, n = observed_cut(components, F.count(F.lit(1)))
        small = n <= broadcast_max_rows
    if prefer_iri_reps and components.where(
            F.col("node").startswith("_:")).limit(1).take(1):
        reps = (components.groupBy("component")
                .agg(F.min(F.when(~F.col("node").startswith("_:"),
                                  F.col("node"))).alias("_iri_rep")))
        components = (components.join(reps, "component")
                      .select("node",
                              F.coalesce("_iri_rep", "component")
                               .alias("component")))
        if small:
            components = reuse(components)
    hint = F.broadcast if small else (lambda df: df)
    c_subj = components.select(F.col("node").alias("subj"),
                               F.col("component").alias("_subj_canon"))
    c_obj = components.select(F.col("node").alias("obj_value"),
                              F.col("component").alias("_obj_canon"))
    kinds = list(rewrite_kinds)
    joined = triples.join(hint(c_subj), "subj", "left")
    if small:
        # broadcast path: one pass, the `when` guards ineligible kinds
        out = (joined.join(hint(c_obj), "obj_value", "left")
               .withColumn("obj_value",
                           F.when(F.col("obj_kind").isin(kinds),
                                  F.coalesce("_obj_canon", "obj_value"))
                           .otherwise(F.col("obj_value")))
               .drop("_obj_canon"))
    else:
        # shuffled path: only rewrite-eligible rows join on obj_value —
        # shuffling every LITERAL row by its (long, skewed) text for a
        # join the `when` could never apply was pure waste at scale;
        # both branches read the subject-joined triples
        joined = reuse(joined)
        elig = joined.where(F.col("obj_kind").isin(kinds))
        rest = joined.where(~F.col("obj_kind").isin(kinds)
                            | F.col("obj_kind").isNull())
        elig = (elig.join(c_obj, "obj_value", "left")
                .withColumn("obj_value",
                            F.coalesce("_obj_canon", "obj_value"))
                .drop("_obj_canon"))
        out = elig.unionByName(rest)
    return (out
            .withColumn("subj", F.coalesce("_subj_canon", "subj"))
            .drop("_subj_canon"))
