"""Distributed RDF canonicalization (SURVEY.md §2 T14, §3.3 Spark trace).

The reference (``core/NormalizeUtils.java:35-203``) is a sequential
fixpoint over ALL blank nodes of the dataset. Its hash-first-degree
values are *component-local* (a bnode's hash depends only on its own
quads), so the distributed plan is:

1. **bnode components** — blank nodes co-occurring in a quad are
   connected; ``bnode_components`` counts the co-occurrence edges on
   the job that materializes them and, when there are none (flat
   corpora: every doc-local pipeline output), makes each bnode its own
   component without running CC. Otherwise it runs the same connected
   components as entity linking (``linking.connected_components``: a
   driver-side fixpoint for small edge sets, else min-label
   propagation on ``session.fixpoint``). In pipeline output bnode
   labels are doc-prefixed, so components are doc-local and tiny.
2. **per-component exact canonicalization** — ``kernels.map_groups``
   repartitions by component and runs the verbatim pure-core algorithm
   (``core/normalize.canonical_namer``: URGNA2012-lineage SHA-1
   hashing + SJT permutation search) per component, embarrassingly
   parallel and batched (many doc-sized components per Arrow batch).
3. **deterministic global renumber** — components ordered by their
   canonical-form hash get disjoint ``_:c14n`` label ranges via a
   fully-distributed two-phase prefix sum (``prefix_offsets``: range
   partition → per-partition totals collected to the driver → parallel
   partition-local cumsum). Labels are a pure function of graph
   content — never of task scheduling.

Output-label note: for a single bnode component (every normalize
fixture; any single document) labels match the reference exactly. For
multi-component datasets the reference would interleave label numbers
across components in global sorted-hash order — a sequential coupling
that is also quadratic-prone when many documents share identical
structure (equal first-degree hashes force hashPaths). Our numbering is
canonical and deterministic (isomorphic inputs → identical output
multiset) but may permute label *numbers* across components relative to
a single-node run; per-component canonical forms are identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..core.nodemap import BlankNodeNamer
from ..core.normalize import (_hash_paths, _hash_quads, canonical_namer,
                              index_bnodes, rename_quads)
from ..core.nquads import quad_to_nquad
from ..core.rdf import Quad
from ..session import cut_lineage, local_frame, observed_cut, reuse
from .kernels import (QUAD_COLS, QUAD_FIELDS,  # noqa: F401 - re-exported
                      ComponentTooLargeError, map_groups, to_quads)
from .linking import connected_components

_CANON_SCHEMA = T.StructType(
    [T.StructField(c, T.StringType()) for c in QUAD_COLS]
    + [T.StructField("component", T.StringType()),
       T.StructField("comp_hash", T.StringType()),
       T.StructField("n_labels", T.LongType())])


def _bnode_mentions() -> F.Column:
    """Distinct blank-node labels mentioned by a quad (subj, obj, graph)."""
    is_b = [F.when(F.col("subj").startswith("_:"), F.col("subj")),
            F.when(F.col("obj_kind") == "bnode", F.col("obj_value")),
            F.when(F.col("graph").startswith("_:"), F.col("graph"))]
    arr = F.array_compact(F.array(*is_b))
    return F.array_distinct(arr)


def bnode_components(triples: DataFrame, max_iter: int = 50) -> DataFrame:
    """(bnode, component) for every blank node in the dataset; bnodes
    co-occurring in a quad share a component. Star edges to the first
    mention keep the edge list linear in quad count."""
    mentions = triples.select(_bnode_mentions().alias("bs")) \
                      .where(F.size("bs") > 0)
    multi = mentions.where(F.size("bs") > 1)
    edges = multi.select(F.element_at("bs", 1).alias("src"),
                         F.explode(F.slice("bs", 2, 1 << 30)).alias("dst"))
    # counted on the job that materializes them, so CC reads the
    # edges without running their subtree again
    edges, n = observed_cut(edges, F.count(F.lit(1)))
    if n == 0:
        # flat corpora (≤1 bnode per quad — every doc-local pipeline
        # output) have no co-occurrence edges at all: every bnode is
        # its own component, and the CC collect/anti-join machinery is
        # pure overhead
        return (mentions.select(F.explode("bs").alias("node")).distinct()
                .withColumn("component", F.col("node")))
    cc = connected_components(edges, max_iter=max_iter)
    singles = (mentions.select(F.explode("bs").alias("node")).distinct()
               .join(cc, "node", "left_anti")
               .withColumn("component", F.col("node")))
    return cc.unionByName(singles)


def _shield_c14n_labels(quads: list[Quad]) -> list[Quad]:
    """Bijectively rename input bnode labels that already sit in the
    ``_:c14n`` namespace (re-canonicalizing previously-canonicalized
    data) to a reserved prefix BEFORE running the namer:
    ``rename_quads``' reference-parity guard skips ``_:c14n*`` labels,
    so without this a stale ``_:c14n5`` would survive verbatim while
    still being counted in ``n_labels`` — and the global renumber
    would then silently MERGE it with another component's fresh
    ``_:c14n5`` (review finding, confirmed by repro). Deterministic:
    the replacement depends only on the component's own label set."""
    labels = index_bnodes(quads)
    shield: dict[str, str] = {}
    for lab in sorted(labels):
        if lab.startswith("_:c14n"):
            cand = "_:s" + lab[2:]
            while cand in labels or cand in shield.values():
                cand = "_:s" + cand[2:]
            shield[lab] = cand
    if not shield:
        return quads
    def sh(v):
        return shield.get(v, v)
    return [Quad(
        sh(q.graph) if q.graph else q.graph, sh(q.subj), q.pred,
        q.obj_kind,
        sh(q.obj_value) if q.obj_kind == "bnode" else q.obj_value,
        q.obj_datatype, q.obj_lang) for q in quads]


def _canonize(component: str, rows: list[tuple]) -> list[tuple]:
    """Canonicalize one component: rows are (doc_id, *Quad fields)."""
    import hashlib
    quads = _shield_c14n_labels(to_quads(r[1:] for r in rows))
    namer = canonical_namer(quads)
    renamed = rename_quads(quads, namer)
    # sha256 (not the algorithm's SHA-1): this hash only orders components
    # for the global renumber, and sha256 is reproducible in SQL oracles
    comp_hash = hashlib.sha256("".join(
        sorted(quad_to_nquad(q) + "\n" for q in renamed)).encode()).hexdigest()
    return [(r[0], *q, component, comp_hash, namer.counter)
            for r, q in zip(rows, renamed)]


# Per-component row cap for the canonicalization kernels. Components
# are doc-local by construction (pipeline bnode labels are doc-prefixed)
# so real ones are tiny; a dataset whose bnode graph forms one giant
# component would otherwise funnel into a single task and die as an
# opaque executor OOM deep in the hash loop. ``map_groups`` counts rows
# per component while batches are still arriving and raises
# ``ComponentTooLargeError`` by name, before the partition is fully
# materialized or any exponential HND work starts. Read on the driver
# at call time.
MAX_COMPONENT_ROWS = 2_000_000


def prefix_offsets(df: DataFrame, order_cols: list[str], value_col: str,
                   offset_col: str = "_offset") -> DataFrame:
    """Distributed exclusive prefix sum: adds ``offset_col`` = sum of
    ``value_col`` over all rows strictly before this one in
    ``order_cols`` order.

    A global no-``partitionBy`` window would collapse the table into one
    task (the round-1 scale bug); instead:

    1. ``repartitionByRange(order_cols)`` — global order across
       partitions — then materialize to PIN the sampled range bounds
       (re-execution could re-sample differently between the two reads);
    2. per-partition totals → driver (one row per partition, ~10³ rows
       at any scale) → cumulative partition base offsets;
    3. partition-local cumulative sum (window partitioned by partition
       id — every partition runs in parallel) + base offset.
    """
    spark = df.sparkSession
    # partition count scales with the data (inherited shuffle width),
    # never below the core count — each range partition must fit one
    # task's local sort
    n_part = max(spark.sparkContext.defaultParallelism,
                 df.rdd.getNumPartitions(), 1)
    # correctness: both reads below must see the same sampled bounds
    ranged = cut_lineage(df.repartitionByRange(n_part, *order_cols)
                         .withColumn("_pid", F.spark_partition_id()))
    totals = ranged.groupBy("_pid").agg(F.sum(value_col).alias("_t")) \
                   .collect()
    base: dict[int, int] = {}
    acc = 0
    for r in sorted(totals, key=lambda r: r["_pid"]):
        base[r["_pid"]] = acc
        acc += int(r["_t"])
    if not base:  # empty input: no partitions materialized any rows
        base_off = F.lit(0)
    elif len(base) <= 1024:
        base_map = F.create_map(*[F.lit(x) for kv in base.items()
                                  for x in kv])
        base_off = F.coalesce(base_map[F.col("_pid")], F.lit(0))
    else:
        # tens of thousands of partitions would blow up a literal-map
        # expression tree; a broadcast join of the (one row per
        # partition) offset table is the textbook small side
        base_df = local_frame(
            spark, [(int(k), int(v)) for k, v in base.items()],
            "_pid int, _base long")
        ranged = ranged.join(F.broadcast(base_df), "_pid", "left")
        base_off = F.coalesce(F.col("_base"), F.lit(0))
    w = Window.partitionBy("_pid").orderBy(*order_cols) \
              .rowsBetween(Window.unboundedPreceding, -1)
    local = F.coalesce(F.sum(value_col).over(w), F.lit(0).cast("long"))
    return (ranged
            .withColumn(offset_col, (local + base_off).cast("long"))
            .drop("_pid", "_base"))


def _shift_label(col: F.Column, offset: F.Column) -> F.Column:
    return F.when(
        col.startswith("_:c14n"),
        F.concat(F.lit("_:c14n"),
                 F.substring(col, 7, 1000).cast("long") + offset)
    ).otherwise(col)


def canonicalize_triples(triples: DataFrame, max_iter: int = 50,
                         labels: str = "component") -> DataFrame:
    """Triples → canonical triples: every blank-node label replaced by a
    deterministic ``_:c14n{n}`` label, unique across the whole dataset.
    Quads without blank nodes pass through untouched (no shuffle).

    ``labels`` picks the numbering contract:

    * ``"component"`` (default) — components get disjoint label ranges
      ordered by component canonical hash. Canonical and deterministic;
      per-component forms match the reference exactly, but label
      *numbers* may permute across components vs a single-node run.
    * ``"reference"`` — byte parity with the reference's global
      interleaved numbering (``NormalizeUtils.java:35-203``): label
      numbers interleave across the whole dataset in sorted
      first-degree-hash order (phase 1) then sorted duplicate-group /
      path-hash order (phase 2). See ``_canonicalize_reference``.
    """
    if labels == "reference":
        return _canonicalize_reference(triples, max_iter)
    if labels != "component":
        raise ValueError(f"labels must be 'component' or 'reference', "
                         f"got {labels!r}")
    # the input (typically the full expand+toRDF UDF stage) is read by
    # the plain and blank-node branches below
    triples = reuse(triples)
    has_b = F.size(_bnode_mentions()) > 0
    plain = triples.where(~has_b)
    bquads = triples.where(has_b)

    comps = bnode_components(bquads, max_iter=max_iter)
    # every bnode of a quad maps to the same component — join on the first
    keyed = (bquads.withColumn("_b0", F.element_at(_bnode_mentions(), 1))
             .join(comps.withColumnRenamed("node", "_b0"), "_b0")
             .drop("_b0"))

    # the kernel output is read twice (per-component offsets + the final
    # join side)
    canon = reuse(map_groups(keyed, "component", _canonize, _CANON_SCHEMA,
                             QUAD_COLS, cap=MAX_COMPONENT_ROWS))

    # deterministic disjoint label ranges: order components by canonical
    # hash; one row per component, but at 10^12 docs that is ~10^12 rows
    # — the prefix sum is fully distributed (no single-partition window)
    # and the offset join is a plain shuffled join (AQE may still pick a
    # broadcast at small scale; never forced)
    # prefix_offsets reads its input twice: the partition-count probe
    # (df.rdd — on a lazy distinct that executes it once extra under
    # AQE) and the range repartition
    per_comp = reuse(
        canon.select("component", "comp_hash", "n_labels").distinct())
    offsets = prefix_offsets(per_comp, ["comp_hash", "component"],
                             "n_labels").select("component", "_offset")

    shifted = canon.join(offsets, "component")
    for c in ("graph", "subj"):
        shifted = shifted.withColumn(c, _shift_label(F.col(c),
                                                     F.col("_offset")))
    # literals may START with "_:c14n" — only bnode objects carry labels
    shifted = shifted.withColumn(
        "obj_value",
        F.when(F.col("obj_kind") == "bnode",
               _shift_label(F.col("obj_value"), F.col("_offset")))
        .otherwise(F.col("obj_value")))
    return (shifted.select(*QUAD_COLS)
            .unionByName(plain.select(*QUAD_COLS)))


# ---------------------------------------------------------------------------
# reference-parity global numbering (NormalizeUtils.java:35-203)
# ---------------------------------------------------------------------------
#
# The reference's sequential fixpoint reduces (because its first-degree
# hash cache is never invalidated, NormalizeUtils.java:429-431) to:
#
#   phase 1: bnodes whose first-degree hash is GLOBALLY unique are named
#            _:c14n{0..U-1} in ascending hash order;
#   phase 2: for each duplicated hash h in ascending order, hashPaths
#            runs per unnamed member (component-local exploration), the
#            results sort by path hash, and every path-visited unnamed
#            bnode is named in path-namer insertion order.
#
# Both phases distribute: first-degree hashes are component-local, so a
# per-component kernel computes them; global uniqueness is a groupBy;
# phase-1 numbers are a distributed rank (prefix_offsets). Phase 2
# replays the reference loop per component (hashPaths never leaves a
# component) emitting NAMING EVENTS keyed (group_hash, path_hash,
# component, result_idx, seq); the global event rank + U is the final
# number. Path-hash ties across components imply isomorphic explorations
# (SHA-1 collision aside), so the component tie-break cannot change the
# output quad multiset.
#
# Cross-group coupling — a LATER group's exploration reading a label
# assigned by an EARLIER group (whose global digit string the local
# replay cannot know) — is PROVABLY impossible: the chosen hashPaths
# exploration is a DFS that recurses into every unnamed subj/obj-
# adjacent bnode transitively (NormalizeUtils.java:281-346), so after a
# group's naming events the named set is closed under hashPaths
# adjacency; a later group's unnamed member therefore has no adjacency
# into it (it would have been named), and graph-label-only links (which
# DO join components) never create hashPaths adjacency. The kernel keeps
# the detection as a defensive assertion; tests include the adversarial
# graph-label-linked shape (test_c14n_reference_parity.py).

_BINFO_SCHEMA = T.StructType([
    T.StructField("component", T.StringType()),
    T.StructField("bnode", T.StringType()),
    T.StructField("fd_hash", T.StringType()),
])

_EVENT_SCHEMA = T.StructType([
    T.StructField("component", T.StringType()),
    T.StructField("bnode", T.StringType()),
    T.StructField("group_hash", T.StringType()),
    T.StructField("path_hash", T.StringType()),
    T.StructField("result_idx", T.LongType()),
    T.StructField("seq", T.LongType()),
    T.StructField("coupled", T.BooleanType()),
])


def _sorted_quads(rows) -> list[Quad]:
    # content order: the replay must not depend on shuffle arrival order
    return sorted(to_quads(rows), key=quad_to_nquad)


def _fd_hashes(component: str, rows: list[tuple]) -> list[tuple]:
    """Every bnode's first-degree hash in one component (NormalizeUtils
    hashQuads — pure content function)."""
    bnodes = index_bnodes(_sorted_quads(rows))
    cache: dict[str, str] = {}
    return [(component, b, _hash_quads(b, bnodes, cache)) for b in bnodes]


class _ShadowNamer:
    """BlankNodeNamer-compatible view for the phase-2 replay: phase-1
    names carry their real global digits; names assigned during the
    replay itself are recorded but their digits are unknown here — a
    read of one marks the component as coupled."""

    def __init__(self, phase1: dict[str, int]):
        self.named: dict[str, str | None] = {
            b: f"_:c14n{n}" for b, n in phase1.items()}
        self.coupled = False

    def is_named(self, b: str) -> bool:
        return b in self.named

    def get(self, b: str) -> str:
        v = self.named[b]
        if v is None:
            self.coupled = True
            return "_:c14n?"
        return v


def _phase2_kernel(quads_pdf, binfo_pdf):
    """cogrouped applyInPandas kernel: replay the reference's duplicate-
    group loop (NormalizeUtils.java:120-203) for one component, emitting
    naming events instead of numbers."""
    import sys

    import pandas as pd
    cols = {f.name: [] for f in _EVENT_SCHEMA.fields}
    if quads_pdf.empty or binfo_pdf.empty:
        return pd.DataFrame(cols)
    if sys.getrecursionlimit() < 20000:
        sys.setrecursionlimit(20000)
    component = quads_pdf["component"].iloc[0]
    bnodes = index_bnodes(_sorted_quads(
        zip(*(quads_pdf[c].tolist() for c in QUAD_FIELDS))))
    fd = dict(zip(binfo_pdf["bnode"], binfo_pdf["fd_hash"]))
    phase1 = {b: int(n) for b, n in zip(binfo_pdf["bnode"], binfo_pdf["num"])
              if pd.notna(n)}
    shadow = _ShadowNamer(phase1)
    # local members of globally-duplicated hashes, in content quad order
    groups: dict[str, list[str]] = {}
    for b in bnodes:
        if b not in phase1:
            groups.setdefault(fd[b], []).append(b)
    cache = dict(fd)  # prepopulated, never invalidated (reference quirk)
    events: list[tuple] = []
    for h in sorted(groups):
        results = []
        for i, b in enumerate(groups[h]):
            if shadow.is_named(b):
                continue  # named by an earlier group's path closure
            pn = BlankNodeNamer("b")
            pn.get(b)
            res = _hash_paths(b, bnodes, shadow, pn, cache)
            results.append((res.hash, i, res.path_namer))
        results.sort(key=lambda t: (t[0], t[1]))
        for r_idx, (ph, _i, pn) in enumerate(results):
            for seq, key in enumerate(pn.mapping):  # insertion order
                if shadow.is_named(key):
                    continue  # reference: get() returns existing label
                shadow.named[key] = None
                events.append((component, key, h, ph, r_idx, seq))
    if shadow.coupled and not events:
        events.append((component, None, "", "", -1, -1))
    for component, key, h, ph, r_idx, seq in events:
        cols["component"].append(component)
        cols["bnode"].append(key)
        cols["group_hash"].append(h)
        cols["path_hash"].append(ph)
        cols["result_idx"].append(r_idx)
        cols["seq"].append(seq)
        cols["coupled"].append(shadow.coupled)
    return pd.DataFrame(cols)


def _apply_label_map(df: DataFrame, mapping: DataFrame) -> DataFrame:
    """Rewrite every bnode position through (bnode → new) with three
    shuffled left joins — never a forced broadcast (the mapping has one
    row per blank node: billions at 10^12 docs)."""
    m_s = mapping.select(F.col("bnode").alias("subj"),
                         F.col("new").alias("_ns"))
    m_o = mapping.select(F.col("bnode").alias("obj_value"),
                         F.col("new").alias("_no"))
    m_g = mapping.select(F.col("bnode").alias("graph"),
                         F.col("new").alias("_ng"))
    out = (df.join(m_s, "subj", "left")
           .join(m_o, "obj_value", "left")
           .join(m_g, "graph", "left"))
    return (out
            .withColumn("subj", F.coalesce("_ns", "subj"))
            .withColumn("obj_value",
                        F.when(F.col("obj_kind") == "bnode",
                               F.coalesce("_no", "obj_value"))
                        .otherwise(F.col("obj_value")))
            .withColumn("graph", F.coalesce("_ng", "graph"))
            .drop("_ns", "_no", "_ng"))


def _canonicalize_reference(triples: DataFrame, max_iter: int) -> DataFrame:
    """labels="reference": global interleaved numbering, byte-identical
    to pure-core ``normalize_quads`` on the union (see module comment)."""
    # each of these three is read by several branches below
    triples = reuse(triples)
    has_b = F.size(_bnode_mentions()) > 0
    plain = triples.where(~has_b)
    bquads = triples.where(has_b)

    comps = bnode_components(bquads, max_iter=max_iter)
    keyed = reuse(
        bquads.withColumn("_b0", F.element_at(_bnode_mentions(), 1))
              .join(comps.withColumnRenamed("node", "_b0"), "_b0")
              .drop("_b0"))

    binfo = reuse(map_groups(keyed, "component", _fd_hashes, _BINFO_SCHEMA,
                             QUAD_FIELDS, cap=MAX_COMPONENT_ROWS))
    counts = binfo.groupBy("fd_hash").agg(F.count(F.lit(1)).alias("_cnt"))
    with_counts = binfo.join(counts, "fd_hash")
    uniq = (with_counts.where(F.col("_cnt") == 1)
            .withColumn("_one", F.lit(1).cast("long")))
    phase1 = (prefix_offsets(uniq, ["fd_hash"], "_one")
              .select("bnode", F.col("_offset").alias("num")))
    n_unique = phase1.count()

    binfo_full = (with_counts.join(phase1, "bnode", "left")
                  .select("component", "bnode", "fd_hash", "num"))
    # a coupled component must raise before the events are numbered
    events, n_coupled = observed_cut(
        keyed.groupby("component")
             .cogroup(binfo_full.groupby("component"))
             .applyInPandas(lambda left, right: _phase2_kernel(left, right),
                            _EVENT_SCHEMA),
        F.count_if(F.col("coupled")))
    if n_coupled:
        bad = [r.component for r in
               events.where(F.col("coupled"))
                     .select("component").distinct().limit(5).collect()]
        raise NotImplementedError(
            "reference-interleaved labeling cannot replay components whose "
            "later duplicate-hash groups read labels assigned by earlier "
            f"groups (cross-group coupling); components: {bad}. Use "
            "labels='component' (canonical, deterministic, per-component "
            "forms identical to the reference).")
    ev = events.withColumn("_one", F.lit(1).cast("long"))
    phase2 = (prefix_offsets(
        ev, ["group_hash", "path_hash", "component", "result_idx", "seq"],
        "_one")
        .select("bnode", (F.col("_offset") + F.lit(n_unique)).alias("num")))

    mapping = (phase1.unionByName(phase2)
               .select("bnode",
                       F.concat(F.lit("_:c14n"),
                                F.col("num").cast("string")).alias("new")))
    renamed = _apply_label_map(keyed, mapping)
    return (renamed.select(*QUAD_COLS)
            .unionByName(plain.select(*QUAD_COLS)))
