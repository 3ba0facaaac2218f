"""Similarity search over embedding columns.

Brute-force cosine top-k is the correctness baseline (broadcast the
small query side — the scan side never shuffles). The LSH and IVF
operators, the 100 TB scale path, run candidate → verify → rank with
each shared step written once:

* block: ``_lsh_buckets_expr`` (numpy kernel: ``lsh_bucket_arrays``)
  + ``dedup._band_pairs``, the (band, key) self-join MinHash and SimHash
  use too; or IVF lists (``ivf_assign``, ``_write_ivf_lists``);
* probe: ``_probe``, the query side through the same assignment;
* score: ``_sim``, the rounded exact cosine over two norm expressions
  (``try_divide``, as in ``_approx_cos``: a zero norm scores NULL);
* verify: ``_verify``, id pairs → both vectors → sim ≥ threshold;
* rank: ``_topk``, NULL scores dropped, the k best per query.

Dot products are built-in ``zip_with``/``aggregate`` expressions in
double precision — JVM-side, no Python.
"""

from __future__ import annotations

from typing import Callable, NamedTuple

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import observed_cut, reuse
from .dedup import _band_pairs


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y:
                                  x.cast("double") * y.cast("double")),
                       F.lit(0.0), lambda acc, x: acc + x)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x:
                                          x.cast("double") * x.cast("double")),
                              F.lit(0.0), lambda acc, x: acc + x))


def cosine(a: Column, b: Column) -> Column:
    # try_divide: a zero-norm vector (failed encoder / padding artifact)
    # must yield NULL, not NaN — Spark orders NaN ABOVE every number,
    # so a NaN similarity would pass every `>= threshold` filter and
    # rank first in every descending top-k; NULL drops from filters
    # and sorts last (review finding)
    return F.try_divide(_dot(a, b), _norm(a) * _norm(b))


def _sim(a: Column, b: Column, na: Column, nb: Column,
         round_to: int) -> Column:
    """The score step: ``cosine`` over the norm expressions ``na`` /
    ``nb`` (precomputed columns where the caller has them), rounded."""
    return F.round(F.try_divide(_dot(a, b), na * nb), round_to)


def _topk(scored: DataFrame, k: int) -> DataFrame:
    """The rank step over (query_id, neighbor_id, sim): per query the k
    best, ties broken by neighbor id. A NULL sim (zero-norm vector) is
    no neighbor — kept, it would take a top-k slot at the tail."""
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"),
                                               F.asc("neighbor_id"))
    return (scored.where(F.col("sim").isNotNull())
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))


def _neighbors(j: DataFrame, id_col: str, sim: Column,
               exclude_self: bool) -> DataFrame:
    """Scored (query_id, neighbor_id, sim) rows of a query × corpus
    join; ``exclude_self`` as in ``cosine_topk``."""
    if exclude_self:
        j = j.where(F.col(id_col) != F.col("query_id"))
    return j.select("query_id", F.col(id_col).alias("neighbor_id"),
                    sim.alias("sim"))


def _probe(queries: DataFrame, assign: Callable[[DataFrame], DataFrame],
           key: str, id_col: str, vec_col: str) -> DataFrame:
    """The probe step: (query_id, query_vec) through the corpus-side
    ``assign`` (bucket or list assignment, which reads corpus column
    names) → (query_id, query_vec, ``key``)."""
    return (assign(queries.withColumnRenamed("query_id", id_col)
                   .withColumnRenamed("query_vec", vec_col))
            .select(F.col(id_col).alias("query_id"),
                    F.col(vec_col).alias("query_vec"), key))


def _vectors(df: DataFrame, id_col: str, vec_col: str, pair_id: str,
             side: str) -> DataFrame:
    """One side of a verify join: (``pair_id``, v_``side``,
    _n``side``). The norm is computed once per vector, below the
    exchange, not per candidate pair: bit-identical doubles, ~2/3 less
    arithmetic per verified pair (guide §2.3)."""
    return df.select(F.col(id_col).alias(pair_id),
                     F.col(vec_col).alias(f"v_{side}"),
                     _norm(F.col(vec_col)).alias(f"_n{side}"))


def _verify(pairs: DataFrame, va: DataFrame, vb: DataFrame,
            threshold: float, round_to: int) -> DataFrame:
    """The verify step: candidate id pairs join both sides' vectors
    (``_vectors`` frames, sides a and b) by id; the (a, b, sim) pairs
    whose exact rounded cosine reaches ``threshold`` are kept."""
    a, b = va.columns[0], vb.columns[0]
    sim = _sim(F.col("v_a"), F.col("v_b"), F.col("_na"), F.col("_nb"),
               round_to)
    return (pairs.join(va, a).join(vb, b)
            .select(a, b, sim.alias("sim"))
            .where(F.col("sim") >= threshold))


def cosine_topk(embeddings: DataFrame, queries: DataFrame, k: int = 10,
                id_col: str = "vec_id", vec_col: str = "embedding",
                round_to: int = 4, exclude_self: bool = True) -> DataFrame:
    """Brute-force exact top-k neighbors for each query vector.

    queries: (query_id, query_vec). The query side is broadcast —
    the big scan side streams through without a shuffle; the only
    shuffle is the final per-query top-k (tiny). Ties broken by
    neighbor id for determinism.

    ``exclude_self`` assumes query ids are drawn from the corpus id
    space (self-match dropped by id); pass False when queries come from
    a separate id space, else an id collision silently drops a genuine
    neighbor.
    """
    # corpus-vector norm once per row (not once per query), query norm
    # once per broadcast row — bit-identical to the per-pair evaluation
    j = embeddings.withColumn("_vn", _norm(F.col(vec_col))) \
        .crossJoin(F.broadcast(
            queries.withColumn("_qn", _norm(F.col("query_vec")))))
    sim = _sim(F.col(vec_col), F.col("query_vec"), F.col("_vn"),
               F.col("_qn"), round_to)
    return _topk(_neighbors(j, id_col, sim, exclude_self), k)


def embedding_neardup(embeddings: DataFrame, threshold: float = 0.95,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      round_to: int = 4,
                      planes: list[list[float]] | None = None,
                      bands: int = 4) -> DataFrame:
    """Near-duplicate pairs by embedding cosine ≥ threshold (id_a < id_b).

    With ``planes`` (the scale path, and the wired query path): banded
    random-hyperplane LSH generates candidates — a pair is a candidate
    iff some band's sign-bit bucket matches (OR-amplification, recall
    grows with band count) — then candidates are verified with the exact
    cosine. The shuffle is O(n·bands) bucket rows plus the candidate
    pairs; never the cross product, so it survives 10^9+ vectors.

    Without ``planes``: the O(n²) all-pairs self-join — the exact recall
    baseline, for tests and small inputs only.
    """
    va = _vectors(embeddings, id_col, vec_col, "id_a", "a")
    vb = _vectors(embeddings, id_col, vec_col, "id_b", "b")
    if planes is None:
        sim = _sim(F.col("v_a"), F.col("v_b"), F.col("_na"), F.col("_nb"),
                   round_to)
        return (va.join(vb, F.col("id_a") < F.col("id_b"))
                .select("id_a", "id_b", sim.alias("sim"))
                .where(F.col("sim") >= threshold))
    # The bucket ARRAYS are materialized once (lineage cut) before the
    # self-join — the same boundary minhash_candidate_pairs puts after
    # its signature build: without it both join sides re-plan and
    # re-evaluate the plane expression tree (tens of planes × dot
    # aggregates — seconds of optimizer/codegen per side per action,
    # measured), and the checkpoint write is only n rows of
    # (id, bands longs), not the exploded band rows.
    # The bucket self-join then carries IDS ONLY: a popular bucket with
    # B members expands to B² candidate rows, and carrying both vectors
    # through that expansion multiplies its bytes by the vector width
    # (measured heap OOM at 200k × 64-dim with replica-heavy buckets).
    # Vectors re-join by id AFTER the pair dedup — two narrow shuffles
    # of the deduped pairs instead of vector payload inside the blowup.
    arrays = reuse(
        lsh_bucket_arrays(embeddings, planes, bands, id_col, vec_col))
    banded = arrays.select(
        id_col, F.posexplode("buckets").alias("band", "bucket"))
    cand = _band_pairs(banded, id_col, "bucket", "id_a", "id_b")
    return _verify(cand, va, vb, threshold, round_to)


def embedding_clusters(embeddings: DataFrame, threshold: float = 0.95,
                       id_col: str = "vec_id", vec_col: str = "embedding",
                       round_to: int = 4,
                       planes: list[list[float]] | None = None,
                       bands: int = 4) -> DataFrame:
    """Transitive embedding near-dup clusters: every vector labeled with
    the min id reachable through chains of cosine-≥threshold pairs
    (banded-LSH candidates when ``planes`` given — the scale path) plus
    the cluster size. Same contract as text ``dedup_clusters``.

    The verified pairs go to connected components lazily: CC
    materializes its edge set before its size probe and its rounds
    read the materialized symmetric edges, so the banded candidate
    join + exact-cosine verify runs once."""
    from .linking import label_clusters
    pairs = embedding_neardup(embeddings, threshold, id_col, vec_col,
                              round_to, planes, bands)
    # verified pairs are already deduplicated on (id_a, id_b)
    return label_clusters(embeddings, pairs, id_col, assume_distinct=True)


class LshGeometry(NamedTuple):
    """Banded-LSH geometry plus its HONEST predicted quality: callers
    can assert ``achieved_recall >= needed`` instead of trusting a
    silently-capped fallback, and log ``candidate_fraction`` (expected
    random-pair candidate volume as a fraction of all pairs)."""
    planes_per_band: int
    bands: int
    achieved_recall: float
    candidate_fraction: float


def lsh_recall(threshold: float, planes_per_band: int, bands: int) -> float:
    """Predicted recall of a (p, b) banded random-hyperplane geometry at
    cosine ``threshold``: 1 - (1 - P^p)^b with P = 1 - acos(sim)/π."""
    import math
    prob = 1.0 - math.acos(threshold) / math.pi
    return 1.0 - (1.0 - prob ** planes_per_band) ** bands


def lsh_geometry(threshold: float, target_recall: float = 0.9,
                 candidate_budget: float = 0.25,
                 max_planes_per_band: int = 16,
                 max_bands: int = 16) -> LshGeometry:
    """Geometry for banded random-hyperplane LSH, from the standard
    collision probability P(agree) = 1 - acos(sim)/π:
    recall = 1 - (1 - P^p)^b, expected random-pair candidate fraction
    ≈ b·(1/2)^p. Picks the most selective p (fewest candidates) whose
    band count for ``target_recall`` fits ``max_bands`` (band rows cost
    n·b shuffle rows — unbounded b would trade one blowup for another)
    with candidate fraction within ``candidate_budget``; if nothing
    fits, the closest-to-target fallback.

    Returns an ``LshGeometry`` carrying the geometry's ACTUAL predicted
    recall and candidate fraction — when the fallback undercuts
    ``target_recall`` (unreachable within the band budget) a warning is
    emitted and ``achieved_recall`` says by how much, so no caller can
    mistake the capped geometry for a target-meeting one.

    The math makes the low-threshold regime honest: at sim 0.4
    (P≈0.63) high recall is unreachable without near-brute-force
    candidate volume — LSH pays off at production near-dup thresholds
    (0.9+), where a selective geometry gets ~0.99 recall at ~1e-4 of
    the pairs."""
    import math
    import warnings
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0,1), got {threshold}")
    if not 0.0 < target_recall < 1.0:
        raise ValueError(
            f"target_recall must be in (0,1), got {target_recall} — "
            "recall 1.0 needs brute force, not LSH")
    prob = 1.0 - math.acos(threshold) / math.pi

    def _geom(p: int, b: int) -> LshGeometry:
        # recall via the module's own lsh_recall — one formula, not two
        return LshGeometry(p, b, lsh_recall(threshold, p, b),
                           b * 0.5 ** p)

    best = None
    for p in range(max_planes_per_band, 0, -1):
        miss = 1.0 - prob ** p
        if miss >= 1.0:
            continue
        b = max(1, math.ceil(math.log(1.0 - target_recall)
                             / math.log(miss)))
        if b > max_bands:
            # capped fallback candidate: KEEP THE BEST BY ACHIEVED
            # RECALL, not the first tried — at the same capped band
            # budget a smaller p can have orders-of-magnitude higher
            # recall (review finding: p=16 at 4 bands ~0.25% recall
            # was returned while p=1 at 4 bands ~98% sat unexamined)
            cand = _geom(p, min(b, max_bands))
            if best is None or cand.achieved_recall > best.achieved_recall:
                best = cand
            continue
        if b * 0.5 ** p <= candidate_budget:
            return _geom(p, b)
        if best is None or _geom(p, b).achieved_recall \
                > best.achieved_recall:
            best = _geom(p, b)
    out = best if best else _geom(1, max_bands)
    if out.achieved_recall < target_recall:
        warnings.warn(
            f"lsh_geometry: target_recall={target_recall} unreachable at "
            f"threshold={threshold} within max_bands={max_bands}/"
            f"candidate_budget={candidate_budget}; returning "
            f"{out.planes_per_band}x{out.bands} with achieved_recall="
            f"{out.achieved_recall:.3f}", stacklevel=2)
    return out


def _check_lsh_geometry(planes: list[list[float]], bands: int) -> int:
    """Shared validation for the banded-bucket builders; returns
    planes-per-band."""
    per = len(planes) // max(bands, 1)
    if bands < 1 or per < 1:
        # per == 0 would make every bucket the constant 0 → the candidate
        # join degenerates to the full O(n²) cross product, silently
        raise ValueError(
            f"banded_lsh_buckets needs at least one plane per band "
            f"(got {len(planes)} planes, {bands} bands)")
    if len(planes) % bands != 0:
        raise ValueError(
            f"len(planes)={len(planes)} must divide evenly into "
            f"bands={bands}; remainder planes would be silently unused")
    if per > 62:
        raise ValueError(f"{per} planes per band overflows a long bucket")
    import math
    if any(not math.isfinite(x) for p in planes for x in p):
        raise ValueError("planes must be finite floats")
    return per


def _lsh_buckets_expr(planes: list[list[float]], bands: int,
                      vec_col: str) -> Column:
    """The banded-bucket ARRAY expression (one long per band) behind
    ``lsh_buckets``, ``banded_lsh_buckets`` and ``lsh_bucket_arrays``."""
    per = _check_lsh_geometry(planes, bands)
    # ONE expression tree: sign bits for all planes computed once from a
    # nested array literal, band buckets derived by slicing that shared
    # array. The per-plane formulation built one dot-aggregate subtree
    # per plane and re-chained them per band — at 80 planes that cost
    # seconds of Catalyst planning per query and re-evaluated the dots
    # per band reference. The literal itself is built from ONE parsed
    # SQL string, not nested F.array(F.lit(...)) calls: at 168 planes
    # the per-literal py4j construction took 16 s of driver time per
    # query (measured); the string parse builds the identical tree
    # JVM-side in <1 s, bitwise-equal buckets (repr round-trips doubles
    # exactly and SQL double literals parse to the same values).
    planes_sql = "array(" + ",".join(
        "array(" + ",".join(repr(float(x)) + "D" for x in p) + ")"
        for p in planes) + ")"
    planes_lit = F.expr(planes_sql)
    signs = F.transform(
        planes_lit,
        lambda pl: F.when(_dot(F.col(vec_col), pl) > 0,
                          F.lit(1).cast("long"))
                    .otherwise(F.lit(0).cast("long")))
    weights = F.array(*[F.lit(1 << i).cast("long") for i in range(per)])
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.aggregate(
            F.zip_with(F.slice(signs, b * per + 1, per), weights,
                       lambda s, w: s * w),
            F.lit(0).cast("long"), lambda acc, x: acc + x))


def lsh_bucket_arrays(embeddings: DataFrame, planes: list[list[float]],
                      bands: int, id_col: str = "vec_id",
                      vec_col: str = "embedding") -> DataFrame:
    """(id, buckets array<long>) — one bucket per band, pre-explode.
    The compact form to materialize/checkpoint (n rows × bands longs);
    explode to (band, bucket) rows afterwards.

    Computed in a ``mapInArrow`` numpy kernel (guide §4.2): tens of
    interpreted higher-order dot-aggregates per vector were the
    dominant cost of the banded-LSH queries (7.7 s of a 24 s
    embedding_clusters run at sf1; 168-plane geometries worse). The
    kernel accumulates the dot products with a STRICTLY SEQUENTIAL
    loop over vector components — ``acc += v[:, k] * p[:, k]`` for k
    ascending — the same left fold the JVM ``aggregate`` evaluates, so
    every double (and therefore every sign bit and bucket id) is
    BIT-IDENTICAL to the expression form; no BLAS/pairwise-summation
    reordering is allowed anywhere near the sign decision. Bucket
    packing is integer arithmetic (exact in any order). Only
    (id, vector) cross the Python boundary, and the output is n rows ×
    bands longs — no driver collect, no payload amplification."""
    from pyspark.sql import types as T
    per = _check_lsh_geometry(planes, bands)
    pl = [[float(x) for x in p] for p in planes]
    n_bands = bands

    def kernel(batches):
        import numpy as np
        import pyarrow as pa
        P = np.array(pl, dtype=np.float64)            # (n_planes, d)
        weights = (np.int64(1) << np.arange(per, dtype=np.int64))
        for rb in batches:
            ids = rb.column(0)
            col = rb.column(1)
            if isinstance(col, pa.ChunkedArray):
                col = col.combine_chunks()
            n = len(col)
            if n == 0:
                yield pa.RecordBatch.from_arrays(
                    [ids, pa.array([], type=pa.list_(pa.int64()))],
                    names=[rb.schema.names[0], "buckets"])
                continue
            offs = np.asarray(col.offsets)
            widths = np.diff(offs)
            bad = None  # rows whose dot is NULL on the JVM path
            if ((widths == widths[0]).all() and widths[0] == P.shape[1]
                    and col.null_count == 0
                    and col.flatten().null_count == 0):
                flat = col.flatten().to_numpy(zero_copy_only=False)
                V = np.asarray(flat, dtype=np.float64).reshape(
                    n, int(widths[0]))
            else:
                # ragged / null rows: the JVM form zip_withs the vector
                # against a length-d plane — a length mismatch or a
                # null ELEMENT nulls the whole dot and the sign is 0
                # (NULL > 0 is false). A NaN element, by contrast, is a
                # NaN dot and Spark's NaN > 0 is TRUE — so NaN rows go
                # through the normal arithmetic below, null rows get
                # their signs zeroed explicitly.
                V = np.zeros((n, P.shape[1]), dtype=np.float64)
                bad = np.ones(n, dtype=bool)
                for i, v in enumerate(col.to_pylist()):
                    if (v is not None and len(v) == P.shape[1]
                            and not any(x is None for x in v)):
                        V[i] = np.asarray(v, dtype=np.float64)
                        bad[i] = False
            acc = np.zeros((n, P.shape[0]), dtype=np.float64)
            for k in range(P.shape[1]):   # sequential k: JVM fold order
                acc += V[:, k:k + 1] * P[:, k]
            # Spark comparison semantics: NaN sorts above every number,
            # so a NaN dot yields sign 1 on the JVM path
            signs = ((acc > 0.0) | np.isnan(acc)).astype(np.int64)
            if bad is not None:
                signs[bad] = 0
            buckets = np.empty((n, n_bands), dtype=np.int64)
            for b in range(n_bands):
                buckets[:, b] = signs[:, b * per:(b + 1) * per] @ weights
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(buckets.tolist(), type=pa.list_(pa.int64()))],
                names=[rb.schema.names[0], "buckets"])

    out_schema = T.StructType([
        embeddings.schema[id_col],
        T.StructField("buckets", T.ArrayType(T.LongType()))])
    return embeddings.select(id_col, vec_col).mapInArrow(kernel, out_schema)


def banded_lsh_buckets(embeddings: DataFrame, planes: list[list[float]],
                       bands: int, id_col: str = "vec_id",
                       vec_col: str = "embedding") -> DataFrame:
    """Split ``planes`` into ``bands`` groups; one (band, bucket) row per
    input row per band, bucket = the band's sign-bit integer. Candidate
    generation = equi-join on (band, bucket)."""
    return embeddings.select(
        id_col, vec_col,
        F.posexplode(_lsh_buckets_expr(planes, bands, vec_col))
        .alias("band", "bucket"))


def lsh_buckets(embeddings: DataFrame, planes: list[list[float]],
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Random-hyperplane LSH: sign bits of dot products with fixed planes
    → integer bucket — the one-band ``_lsh_buckets_expr``. ``planes``
    must be generated driver-side with a fixed seed so bucketing is
    deterministic."""
    # explode, not [0]: on a nullable element the join's inferred
    # isnotnull filter would evaluate the bucket expression twice
    return embeddings.select(
        id_col, vec_col,
        F.explode(_lsh_buckets_expr(planes, 1, vec_col)).alias("bucket"))


def ann_cosine_topk(embeddings: DataFrame, queries: DataFrame,
                    planes: list[list[float]], k: int = 10,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    exclude_self: bool = True) -> DataFrame:
    """Approximate top-k: score only same-bucket candidates. Recall
    depends on plane count; the scale path for 10^9+ vectors where
    brute force is off the table. ``exclude_self`` as in
    ``cosine_topk`` — set False for a disjoint query id space."""
    e_b = lsh_buckets(embeddings, planes, id_col, vec_col)
    q_b = _probe(queries, lambda d: lsh_buckets(d, planes, id_col, vec_col),
                 "bucket", id_col, vec_col)
    j = e_b.withColumn("_vn", _norm(F.col(vec_col))) \
        .join(F.broadcast(q_b.withColumn("_qn", _norm(F.col("query_vec")))),
              "bucket")
    sim = _sim(F.col(vec_col), F.col("query_vec"), F.col("_vn"),
               F.col("_qn"), 4)
    return _topk(_neighbors(j, id_col, sim, exclude_self), k)


def ivf_assign(embeddings: DataFrame, centroids: list[list[float]],
               id_col: str = "vec_id", vec_col: str = "embedding",
               nprobe: int = 1) -> DataFrame:
    """IVF coarse quantization: assign each vector to its ``nprobe``
    nearest centroids by dot product (one output row per probed list).
    ``centroids`` are fixed driver-side literals (a seeded sample or a
    precomputed k-means codebook), so assignment is a pure JVM column
    expression — at 10^9 vectors this is one scan, no shuffle."""
    dots = F.array(*[
        F.struct(_dot(F.col(vec_col),
                      F.array(*[F.lit(float(x)) for x in c])).alias("d"),
                 F.lit(i).alias("list_id"))
        for i, c in enumerate(centroids)])
    top = F.slice(F.reverse(F.array_sort(dots)), 1, nprobe)
    return embeddings.select(
        id_col, vec_col,
        F.explode(F.transform(top, lambda s: s["list_id"])).alias("list_id"))


def train_ivf_centroids(embeddings: DataFrame, k: int = 16,
                        iters: int = 5, vec_col: str = "embedding"
                        ) -> list[list[float]]:
    """Spherical k-means codebook for ``ivf_assign`` — Lloyd's
    iterations entirely as DataFrame ops:

    * init: the k DISTINCT vectors with the smallest content hash — a
      pure function of the data (same input ⇒ same codebook on any
      cluster / partitioning, unlike ``takeSample``); the vector string
      itself is the tie-break, so hash collisions can't make the
      selection order partitioning-dependent, and duplicate vectors are
      dropped first so no two seeds start identical;
    * assign: ``ivf_assign`` (dot-product argmax, one scan, no
      shuffle beyond the explode);
    * update: element-wise mean per list via posexplode + two-level
      groupBy — the only driver traffic is k·dim aggregate rows per
      iteration (a few KB); means are re-normalized to the unit sphere
      (dot-product assignment ≡ cosine for unit centroids);
    * empty clusters keep their previous centroid.

    The returned plain list feeds ``ivf_assign``/``ivf_cosine_topk`` as
    driver-side literals, keeping assignment a pure JVM expression."""
    import math
    vstr = F.col(vec_col).cast("string")
    init = (embeddings
            .select(vec_col, vstr.alias("_vs"))
            .dropDuplicates(["_vs"])
            .orderBy(F.xxhash64(F.col("_vs")), F.col("_vs"))
            .limit(k).collect())
    if not init:
        return []
    centroids = [[float(x) for x in r[0]] for r in init]

    def _unit(v: list[float]) -> list[float]:
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v] if n > 0 else v
    centroids = [_unit(c) for c in centroids]
    for _ in range(iters):
        emb = embeddings.select(F.lit(0).alias("_tid"),
                                F.col(vec_col).alias(vec_col))
        assigned = ivf_assign(emb, centroids, id_col="_tid",
                              vec_col=vec_col, nprobe=1) \
            .select("list_id", vec_col)
        sums = (assigned
                .select("list_id", F.posexplode(vec_col).alias("pos", "x"))
                .groupBy("list_id", "pos")
                .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
                .collect())
        acc: dict[int, dict[int, float]] = {}
        for r in sums:
            acc.setdefault(int(r["list_id"]), {})[int(r["pos"])] = \
                float(r["s"]) / int(r["n"])
        centroids = [
            _unit([acc[i][p] for p in sorted(acc[i])]) if i in acc
            else centroids[i]
            for i in range(len(centroids))]
    return centroids


def ivf_cosine_topk(embeddings: DataFrame, queries: DataFrame,
                    centroids: list[list[float]], k: int = 10,
                    nprobe: int = 2, id_col: str = "vec_id",
                    vec_col: str = "embedding",
                    round_to: int = 4,
                    exclude_self: bool = True) -> DataFrame:
    """IVF-style approximate top-k: vectors live in their single nearest
    centroid's inverted list; each query probes its ``nprobe`` nearest
    lists and reranks candidates with the exact cosine. The standard
    10^9-vector ANN layout (coarse quantizer → inverted lists → rerank):
    the corpus side is scanned once and shuffles only by list_id; the
    (tiny) query side is broadcast. Complements ``ann_cosine_topk``
    (random-hyperplane LSH) — IVF adapts to the data distribution via
    its codebook, LSH needs no training."""
    e_l = ivf_assign(embeddings, centroids, id_col, vec_col, nprobe=1)
    q_l = _probe(queries, lambda d: ivf_assign(d, centroids, id_col, vec_col,
                                               nprobe=nprobe),
                 "list_id", id_col, vec_col)
    # NOT norm-precomputed: A/B at sf1 measured the extra projection
    # over the ivf_assign Generate slightly SLOWER than the per-pair
    # cosine here (2.14 s vs 1.88 s) — the probed-pair count is small
    # (nprobe/k of the corpus × queries-per-list), unlike the neardup
    # verify joins where precomputed norms win
    j = e_l.join(F.broadcast(q_l), "list_id")
    v, q = F.col(vec_col), F.col("query_vec")
    scored = _neighbors(j, id_col, _sim(v, q, _norm(v), _norm(q), round_to),
                        exclude_self)
    return _topk(scored.dropDuplicates(["query_id", "neighbor_id"]), k)


def embedding_neardup_incremental(spark, index_dir: str,
                                  corpus: DataFrame, new_batch: DataFrame,
                                  centroids: list[list[float]],
                                  threshold: float = 0.9, nprobe: int = 2,
                                  id_col: str = "vec_id",
                                  vec_col: str = "embedding",
                                  round_to: int = 4,
                                  prefilter_margin: float | None = None,
                                  broadcast_max_rows: int = 1_000_000
                                  ) -> DataFrame:
    """Near-dup pairs of a NEW batch of vectors against a LANDED corpus
    — "dedup tonight's embeddings against the whole corpus", the mirror
    of ``minhash_pairs_incremental`` for the embedding path. Returns
    (new_id, corpus_id, sim) with exact cosine ≥ ``threshold``.

    Candidates come from the landed int8 IVF index
    (``build_ivf_index``), never a batch×corpus join: each new vector
    probes its ``nprobe`` nearest lists, ONLY those list partitions are
    read (parquet partition pruning), the int8 approximate cosine
    prefilters with a PROVABLY-safe margin, and survivors exact-verify
    against the full-precision corpus column. Corpus vectors are never
    re-scanned or re-quantized per batch — the index is computed once
    when the corpus lands.

    Prefilter safety: the int8 numerator's cosine error is bounded by
    ‖ε‖·‖q‖/(‖v‖·‖q‖) ≤ √d·(scale/2)/‖v‖ ≤ √d/254 (scale =
    max|v|/127 ≤ ‖v‖/127, stored norms exact), so filtering at
    ``threshold − (√d/254 + 10^−round_to)`` can never drop a pair the
    exact verify would keep — the output is EXACTLY the
    (list-collision → exact ≥ threshold) set, reproducible in SQL.

    The probed index side joins the (typically small) new batch with a
    size-adaptive broadcast: the row count observed on its cut under
    ``broadcast_max_rows``, shuffled join above it (note the join key
    ``list_id`` has only k distinct values — a huge batch should be
    split into broadcastable chunks rather than shuffled through k
    reducers). Recall contract: a pair is found iff the new vector's
    probed lists include the corpus vector's list — same coarse-
    quantization recall as ``ivf_cosine_topk`` with the same
    ``nprobe``."""
    import math
    dim = len(centroids[0])
    if prefilter_margin is None:
        prefilter_margin = math.sqrt(dim) / 254.0 + 10.0 ** (-round_to)
    # the new-batch norm rides the (broadcast) probe rows: computed once
    # per batch vector instead of once per candidate pair in the approx
    # filter below (bit-identical — same expression, same values)
    n_l = (ivf_assign(new_batch, centroids, id_col, vec_col, nprobe=nprobe)
           .select(F.col(id_col).alias("new_id"),
                   F.col(vec_col).alias("_nv"),
                   _norm(F.col(vec_col)).alias("_nvn"), "list_id"))
    small = False
    if broadcast_max_rows:
        # the broadcast rows carry the FULL-PRECISION vector (~8·dim
        # bytes each), and nprobe multiplies the row count — a
        # row-count-only bound would happily force-broadcast multi-GB
        # payloads past Spark's size threshold (review finding).
        # Scale the bound to a 64-dim baseline so the byte budget,
        # not the row count, stays constant across vector widths.
        eff_rows = max(1, int(broadcast_max_rows * 64 / max(dim, 64)))
        n_l, n = observed_cut(n_l, F.count(F.lit(1)))
        small = n <= eff_rows
    hint = F.broadcast if small else (lambda df: df)
    idx = _probed_lists(spark, index_dir, n_l)
    j = (idx.join(hint(n_l), "list_id")
         .where(F.col("vec_id") != F.col("new_id")))
    approx = _approx_cos(F.col("qvec"), F.col("scale"), F.col("vnorm"),
                         F.col("_nv"), F.col("_nvn"))
    cand = (j.where(approx >= threshold - prefilter_margin)
            .select("new_id", F.col("vec_id").alias("corpus_id"))
            .dropDuplicates(["new_id", "corpus_id"]))
    return _verify(cand, _vectors(new_batch, id_col, vec_col, "new_id", "a"),
                   _vectors(corpus, id_col, vec_col, "corpus_id", "b"),
                   threshold, round_to)


def _approx_cos(qvec: Column, scale: Column, vnorm: Column,
                query_vec: Column, qnorm: Column) -> Column:
    """Approximate cosine from an int8-quantized corpus vector against a
    full-precision query: scale·(qvec·query) / (‖v‖·‖q‖). Only the
    numerator is quantized; the stored exact norm keeps the estimate
    unbiased to ~1/254 relative error per component. A zero norm on
    either side scores NULL (``try_divide``, as ``cosine``)."""
    return F.try_divide(scale * _dot(qvec, query_vec), vnorm * qnorm)


def quantize_int8(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Add (qvec tinyint[], scale float, vnorm float) columns for an
    int8 vector representation: symmetric per-vector scaling to
    [-127, 127] plus the exact L2 norm captured at quantization time.
    1 byte/dim vs 8 (double) or 4 (float32) — the shuffle/storage
    compaction for ANN candidate generation; exact scoring stays on the
    original column.

    Two projections, not one: ``scale`` (an array_max over the whole
    vector) is materialized as a plain attribute BEFORE the per-element
    quantize lambda references it. Inlined into the lambda body it
    would be re-evaluated per component — O(d²) per vector; Catalyst
    does not CSE into lambda bodies, and CollapseProject keeps the
    split because ``scale`` is non-cheap with two references (the
    lambda and the output column)."""
    v = F.col(vec_col)
    scale = (F.greatest(F.array_max(F.transform(v, F.abs)),
                        F.lit(1e-30)) / F.lit(127.0)).cast("float")
    staged = df.withColumn("scale", scale) \
               .withColumn("vnorm", _norm(v).cast("float"))
    qvec = F.transform(v, lambda x: F.round(x / F.col("scale"))
                       .cast("tinyint"))
    return staged.withColumn("qvec", qvec)


def _write_ivf_lists(embeddings: DataFrame, centroids: list[list[float]],
                     out_dir: str, id_col: str, vec_col: str,
                     mode: str) -> None:
    """The one IVF list writer: (list_id, vec_id, qvec, scale, vnorm)
    rows, partitioned by ``list_id``, written with ``mode``."""
    assigned = ivf_assign(embeddings, centroids, id_col, vec_col, nprobe=1)
    (quantize_int8(assigned, vec_col)
     .select("list_id", F.col(id_col).alias("vec_id"), "qvec", "scale",
             "vnorm")
     .write.mode(mode).partitionBy("list_id").parquet(out_dir))


def _probed_lists(spark, index_dir: str, probes: DataFrame) -> DataFrame:
    """The index rows of the lists ``probes`` names, read by partition
    pruning (`list_id IN` driver literals → the scan's
    PartitionFilters, not a post-read filter)."""
    probed = sorted({r["list_id"] for r in
                     probes.select("list_id").distinct().collect()})
    return spark.read.parquet(index_dir).where(F.col("list_id").isin(probed))


def build_ivf_index(embeddings: DataFrame, centroids: list[list[float]],
                    out_dir: str, id_col: str = "vec_id",
                    vec_col: str = "embedding") -> None:
    """Materialize the IVF inverted lists as an int8-quantized parquet
    index, partitioned by ``list_id``.

    The 100 TB layout: the index holds (vec_id, qvec tinyint[], scale,
    vnorm) — 1 byte/dim + 8 bytes vs 8 bytes/dim for raw doubles, ≥8×
    smaller — and ``search_ivf_index`` reads ONLY the probed lists via
    partition pruning, so a query touches nprobe/k of the index bytes.
    Full-precision vectors stay in the embeddings table and are fetched
    only for the exact rerank of the few approx-survivors (at scale,
    keep that table bucketed by ``vec_id`` so the fetch join is
    co-located, not a scan)."""
    _write_ivf_lists(embeddings, centroids, out_dir, id_col, vec_col,
                     "overwrite")


def append_to_ivf_index(new_batch: DataFrame,
                        centroids: list[list[float]], index_dir: str,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding") -> None:
    """Append a new batch's quantized vectors to a LANDED IVF index —
    the maintenance half of the nightly-crawl path (dedup the batch
    with ``embedding_neardup_incremental``, then land the survivors).
    Parquet append into the same ``list_id`` partition layout: one
    scan of the batch, no touch of existing index files, and
    ``search_ivf_index`` results are identical to a full rebuild
    (tested). ``centroids`` MUST be the codebook the index was built
    with — inverted lists are keyed by it; retraining the codebook
    means a full rebuild."""
    _write_ivf_lists(new_batch, centroids, index_dir, id_col, vec_col,
                     "append")


def search_ivf_index(spark, index_dir: str, embeddings: DataFrame,
                     queries: DataFrame, centroids: list[list[float]],
                     k: int = 10, nprobe: int = 2, oversample: int = 4,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     round_to: int = 4,
                     exclude_self: bool = True) -> DataFrame:
    """ANN over a landed int8 IVF index: probe → approx-score → exact
    rerank.

    1. assign each query to its ``nprobe`` nearest lists (driver-side
       literal centroids, pure column math);
    2. read ONLY those list partitions of the index (``_probed_lists``);
    3. approximate cosine against the broadcast queries (int8 numerator,
       stored exact norms) keeps the top ``k·oversample`` per query;
    4. survivors join back to the full-precision embeddings column for
       the exact cosine, identical rounding/tie-break as
       ``ivf_cosine_topk``.

    With adequate ``oversample`` the int8 prefilter (~0.4% worst-case
    per-component error) does not perturb the exact top-k — verified by
    equality tests against ``ivf_cosine_topk``."""
    # query norm computed once per broadcast probe row, not per
    # (index row × query) pair — bit-identical doubles
    q_l = _probe(queries, lambda d: ivf_assign(d, centroids, id_col, vec_col,
                                               nprobe=nprobe),
                 "list_id", id_col, vec_col) \
        .withColumn("_qn", _norm(F.col("query_vec")))
    idx = _probed_lists(spark, index_dir, q_l)
    j = idx.join(F.broadcast(q_l), "list_id")
    approx = _approx_cos(F.col("qvec"), F.col("scale"), F.col("vnorm"),
                         F.col("query_vec"), F.col("_qn"))
    scored = _neighbors(j, "vec_id", approx, exclude_self)
    surv = (_topk(scored.dropDuplicates(["query_id", "neighbor_id"]),
                  k * oversample)
            .select("query_id", F.col("neighbor_id").alias("_nid")))
    # exact rerank on the full-precision column; survivors are tiny
    # (k·oversample·|queries| rows) so they broadcast
    full = embeddings.join(F.broadcast(surv),
                           F.col(id_col) == F.col("_nid")) \
        .join(F.broadcast(queries), "query_id")
    v, q = F.col(vec_col), F.col("query_vec")
    return _topk(_neighbors(full, "_nid",
                            _sim(v, q, _norm(v), _norm(q), round_to),
                            False), k)
