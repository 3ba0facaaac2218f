"""KG structure analytics over the triple table.

No reference analogue (jsonld-java is a processor, not a query engine);
these are the inspection queries a 100 TB graph build needs: per-node
degrees, hub detection, predicate histograms. All pure column
expressions + two-phase aggregation — no Python in the hot path.

Skew note: degree counting is a ``groupBy`` over node IRIs, and hub
nodes (the reason you run degree stats at all) are exactly the keys
that overload a single reducer. Counts therefore go through the same
sampled-heavy-hitter + salted two-phase scheme as
``materialize.subject_stats`` — AQE splits skewed joins but not
``groupBy``, so this is explicit. Salts are deterministic hashes of
the non-key columns (never task ids or randomness), matching
``materialize.salt_by_subject``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import reuse
from .materialize import detect_heavy_subjects


def _skew_safe_counts(keyed: DataFrame, out_name: str, heavy_threshold: int,
                      sample_fraction: float, n_salts: int) -> DataFrame:
    """(subj, _salt_src) rows → (node, out_name=count per subj); heavy
    keys (sampled sketch) spread over ``n_salts`` partial groups via
    ``_salt_src``, a deterministic hash of the row's OTHER columns."""
    heavy = detect_heavy_subjects(keyed, heavy_threshold, sample_fraction)
    tagged = keyed.join(
        F.broadcast(heavy.select("subj", F.lit(True).alias("_heavy"))),
        "subj", "left")
    salt = (F.when(F.col("_heavy").isNotNull(),
                   F.pmod(F.col("_salt_src"), F.lit(n_salts)))
            .otherwise(F.lit(0))).cast("int")
    partial = (tagged.withColumn("salt", salt)
               .groupBy("subj", "salt").agg(F.count(F.lit(1)).alias("_n")))
    return (partial.groupBy("subj")
            .agg(F.sum("_n").cast("long").alias(out_name))
            .withColumnRenamed("subj", "node"))


def node_degrees(triples: DataFrame, heavy_threshold: int = 1_000_000,
                 sample_fraction: float = 0.001,
                 n_salts: int = 16) -> DataFrame:
    """(node, out_degree, in_degree) for every IRI/bnode appearing as a
    subject or as an IRI/bnode object. Literals are values, not nodes —
    they never count toward degree."""
    # read by the out- and in-degree branches, each sampled and counted
    triples = reuse(triples)
    outs = _skew_safe_counts(
        triples.select("subj", F.xxhash64("pred", "obj_value")
                       .alias("_salt_src")),
        "out_degree", heavy_threshold, sample_fraction, n_salts)
    ins = _skew_safe_counts(
        triples.where(F.col("obj_kind").isin("iri", "bnode"))
        .select(F.col("obj_value").alias("subj"),
                F.xxhash64("subj", "pred").alias("_salt_src")),
        "in_degree", heavy_threshold, sample_fraction, n_salts)
    return (outs.join(ins, "node", "full_outer")
            .select("node",
                    F.coalesce("out_degree", F.lit(0)).cast("long")
                    .alias("out_degree"),
                    F.coalesce("in_degree", F.lit(0)).cast("long")
                    .alias("in_degree")))


def top_hubs(triples: DataFrame, k: int = 10, **kwargs) -> DataFrame:
    """The k highest-degree nodes (out + in), ties broken by node id for
    determinism. ``limit`` after ``orderBy`` runs as TakeOrderedAndProject
    — per-partition top-k then a tiny driver merge, never a full sort."""
    deg = node_degrees(triples, **kwargs) \
        .withColumn("degree", F.col("out_degree") + F.col("in_degree"))
    return (deg.orderBy(F.desc("degree"), F.asc("node")).limit(k)
            .select("node", "out_degree", "in_degree", "degree"))


def pagerank(edges: DataFrame, src: str = "src", dst: str = "dst",
             damping: float = 0.85, max_iter: int = 20,
             tol: float | None = 1e-6) -> DataFrame:
    """PageRank over an edge list → (node, rank), Σrank = 1.

    Entity importance for a KG (which IRIs matter most) — the classic
    power iteration expressed as DataFrame ops:

    * per round: contributions = edges ⋈ ranks on src (both sides hash-
      partitioned on the join key), summed per dst — two shuffles/round;
    * dangling nodes (no out-edges) redistribute their mass uniformly —
      computed as total minus non-dangling mass (one tiny agg), never a
      per-node join;
    * each round is one ``session.fixpoint`` lineage cut: the round's
      plan reads ``ranks`` twice (contributions + dangling mass), so a
      lazy accumulation would recompute exponentially between cuts;
    * ``tol``: stop when the L1 delta between rounds drops below it —
      observed on the round's own job, as the new ranks are joined onto
      the old table; ``tol=None`` runs exactly ``max_iter`` rounds.
    """
    from ..session import fixpoint, observed_cut
    # read by the node set, the out-degrees and the edge weights
    e = reuse(edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
              .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
              .dropDuplicates())
    nodes = (e.select(F.col("src").alias("node"))
             .unionByName(e.select(F.col("dst").alias("node")))
             .distinct())
    # the node count sets the initial rank and the teleport mass
    nodes, n = observed_cut(nodes, F.count(F.lit(1)))
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    out_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("_deg"))
    # weight each edge once up front: contribution = rank(src) * _w;
    # read every round
    weighted = reuse(e.join(out_deg, "src")
                     .select("src", "dst",
                             (F.lit(1.0) / F.col("_deg")).alias("_w")))

    def power_step(ranks):
        contribs = (weighted.join(ranks.select(F.col("node").alias("src"),
                                               "rank"), "src")
                    .groupBy("dst")
                    .agg(F.sum(F.col("rank") * F.col("_w")).alias("_c")))
        # dangling mass = 1 − Σ contributions: per-src edge weights sum
        # to 1, so Σ_dst Σ_src rank·w = Σ rank(non-dangling), and total
        # rank is 1 by construction. A 1-row aggregate over the contribs
        # exchange (reused by ReuseExchange) replaces the former
        # dangling-node join+agg — one join and one shuffle less per
        # round; FP drift vs the exact dangling sum is ~1e-16/round,
        # far below the 5-dp compare precision.
        dang = contribs.agg(
            (F.lit(1.0) - F.coalesce(F.sum("_c"), F.lit(0.0)))
            .alias("_dang"))
        # ranks holds every node: it keeps sinks and carries the old rank
        return (ranks.select("node", F.col("rank").alias("_old"))
                .join(contribs.withColumnRenamed("dst", "node"),
                      "node", "left")
                .crossJoin(F.broadcast(dang))
                .select("node",
                        (F.lit((1.0 - damping) / n)
                         + F.lit(damping)
                         * (F.coalesce("_c", F.lit(0.0))
                            + F.col("_dang") / n))
                        .alias("rank"),
                        "_old"))

    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    ranks, _ = fixpoint(ranks, power_step,
                        F.sum(F.abs(F.col("rank") - F.col("_old"))),
                        lambda _, delta: tol is not None and delta < tol,
                        max_iter)
    return ranks.select("node", "rank")


def predicate_histogram(triples: DataFrame) -> DataFrame:
    """(pred, n_triples, n_subjects) — the schema-shape summary of a KG.

    ``countDistinct(subj)`` grouped by a LOW-cardinality pred would
    funnel every (pred, subj) pair of a popular predicate through one
    reducer; instead the distinct runs hash-partitioned on the full
    (pred, subj) pair (well spread), and the per-pred count of the
    distinct pairs is a map-side partial over far fewer rows."""
    triples = reuse(triples)
    n_triples = triples.groupBy("pred") \
        .agg(F.count(F.lit(1)).alias("n_triples"))
    n_subjects = (triples.select("pred", "subj").distinct()
                  .groupBy("pred")
                  .agg(F.count(F.lit(1)).alias("n_subjects")))
    return n_triples.join(n_subjects, "pred")
