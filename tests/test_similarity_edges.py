"""Edge semantics of the similarity operators: parameter validation
(silent LSH degeneration) and self-exclusion for external query id
spaces."""

from __future__ import annotations

import pytest

from jsonld_spark.operators.similarity import (ann_cosine_topk,
                                               banded_lsh_buckets,
                                               cosine_topk, ivf_cosine_topk,
                                               lsh_buckets)


def _emb(spark):
    rows = [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0]),
            (2, [0.0, 0.0, 1.0]), (3, [0.9, 0.1, 0.0])]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_banded_lsh_rejects_degenerate_params(spark):
    df = _emb(spark)
    # per-band plane count of 0 would bucket EVERYTHING into 0 → the
    # candidate join degenerates to the full cross product, silently
    with pytest.raises(ValueError, match="at least one plane per band"):
        banded_lsh_buckets(df, planes=[[1.0, 0.0, 0.0]] * 3, bands=4)
    with pytest.raises(ValueError, match="divide evenly"):
        banded_lsh_buckets(df, planes=[[1.0, 0.0, 0.0]] * 10, bands=4)
    with pytest.raises(ValueError, match="overflows"):
        lsh_buckets(df, planes=[[1.0, 0.0, 0.0]] * 63)


def test_exclude_self_false_keeps_id_collisions(spark):
    """Queries from an EXTERNAL id space: a corpus vector whose id
    collides with a query id is a legitimate neighbor."""
    emb = _emb(spark)
    queries = spark.createDataFrame(
        [(3, [1.0, 0.0, 0.0])], "query_id long, query_vec array<double>")
    # query id 3 collides with corpus vec 3 (cosine 0.9938) — the default
    # drops it, exclude_self=False keeps it
    got_default = {r.neighbor_id for r in
                   cosine_topk(emb, queries, k=4).collect()}
    got_external = {r.neighbor_id for r in
                    cosine_topk(emb, queries, k=4,
                                exclude_self=False).collect()}
    assert 3 not in got_default
    assert 3 in got_external

    cents = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.0, 0.0, 1.0]]
    ivf = ivf_cosine_topk(emb, queries, cents, k=4, nprobe=3,
                          exclude_self=False)
    assert 3 in {r.neighbor_id for r in ivf.collect()}

    planes = [[1.0, 0.0, 0.0]]  # one plane: query and vec 3 share a bucket
    ann = ann_cosine_topk(emb, queries, planes, k=4, exclude_self=False)
    assert 3 in {r.neighbor_id for r in ann.collect()}


def test_train_ivf_centroids_matches_numpy_kmeans(spark):
    """Distributed spherical k-means must equal a numpy implementation
    with the identical deterministic init and iteration count."""
    import numpy as np

    from jsonld_spark.operators.similarity import train_ivf_centroids

    rng = np.random.RandomState(3)
    centers = np.array([[1.0, 0, 0], [0, 1.0, 0], [0, 0, 1.0]])
    pts = np.vstack([c + rng.normal(0, 0.05, (30, 3)) for c in centers])
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(pts)],
        "vec_id long, embedding array<double>")

    got = train_ivf_centroids(df, k=3, iters=4)

    # replicate: init = k smallest xxhash64 of the array's string form
    from pyspark.sql import functions as F
    init_rows = (df.select("embedding")
                 .orderBy(F.xxhash64(F.col("embedding").cast("string")))
                 .limit(3).collect())

    def unit(v):
        n = np.linalg.norm(v)
        return v / n if n > 0 else v
    cents = np.array([unit(np.array(r[0])) for r in init_rows])
    for _ in range(4):
        labels = np.argmax(pts @ cents.T, axis=1)
        for i in range(3):
            if (labels == i).any():
                cents[i] = unit(pts[labels == i].mean(axis=0))
    assert np.allclose(np.array(got), cents, atol=1e-9)

    # trained codebook separates the three true clusters
    from jsonld_spark.operators.similarity import ivf_assign
    lists = ivf_assign(df, got).select("vec_id", "list_id").collect()
    by_cluster = {}
    for r in lists:
        by_cluster.setdefault(r.vec_id // 30, set()).add(r.list_id)
    assert all(len(v) == 1 for v in by_cluster.values())
    assert len(set().union(*by_cluster.values())) == 3


def test_lsh_geometry_math():
    from jsonld_spark.operators.similarity import lsh_geometry
    import math
    import pytest as _pytest
    g = lsh_geometry(0.4, target_recall=0.55)
    p, b = g.planes_per_band, g.bands
    prob = 1 - math.acos(0.4) / math.pi
    assert 1 - (1 - prob ** p) ** b >= 0.55      # meets target
    assert abs(g.achieved_recall - (1 - (1 - prob ** p) ** b)) < 1e-12
    assert b * 0.5 ** p <= 0.25                  # within budget
    assert abs(g.candidate_fraction - b * 0.5 ** p) < 1e-12
    assert b <= 16                               # band-row bound
    g2 = lsh_geometry(0.95)
    p2, b2 = g2.planes_per_band, g2.bands
    prob2 = 1 - math.acos(0.95) / math.pi
    assert 1 - (1 - prob2 ** p2) ** b2 >= 0.9
    assert g2.achieved_recall >= 0.9
    assert b2 * 0.5 ** p2 < 0.01                 # selective regime
    with _pytest.raises(ValueError, match="threshold"):
        lsh_geometry(1.5)
    # unreachable target → fallback warns and reports the honest recall
    with _pytest.warns(UserWarning, match="achieved_recall"):
        g3 = lsh_geometry(0.4, target_recall=0.99, max_bands=4)
    assert g3.achieved_recall < 0.99
    assert g3.bands <= 4


def test_embedding_incremental_matches_list_collision_bruteforce(
        spark, tmp_path):
    """The incremental operator's result must equal the closed-form
    candidate rule (corpus vector's single list ∈ new vector's nprobe
    probed lists) + exact cosine ≥ threshold, computed independently in
    numpy — and the int8 prefilter must be invisible (proven-superset
    margin)."""
    import numpy as np
    from pyspark.sql import functions as F

    from jsonld_spark.operators.similarity import (
        build_ivf_index, embedding_neardup_incremental)
    rs = np.random.RandomState(3)
    vecs = rs.normal(size=(60, 8))
    for i in range(8):  # planted cross-split near-dups
        vecs[30 + i] = vecs[i] + 0.05 * rs.normal(size=8)
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [[float(x) for x in r] for r in rs.normal(size=(4, 8))]
    corpus = emb.where(F.col("vec_id") < 30)
    new = emb.where(F.col("vec_id") >= 30)
    idx = str(tmp_path / "idx")
    build_ivf_index(corpus, cents, idx)
    out = embedding_neardup_incremental(spark, idx, corpus, new, cents,
                                        threshold=0.8, nprobe=2)
    got = {(r.new_id, r.corpus_id): r.sim for r in out.collect()}

    c = np.array(cents)

    def probed(v, n):
        dots = v @ c.T
        order = sorted(range(len(cents)), key=lambda i: (-dots[i], -i))
        return set(order[:n])

    expected = {}
    for ni in range(30, 60):
        pl = probed(vecs[ni], 2)
        for ci in range(30):
            if probed(vecs[ci], 1) & pl:
                sim = float(vecs[ni] @ vecs[ci]
                            / (np.linalg.norm(vecs[ni])
                               * np.linalg.norm(vecs[ci])))
                if round(sim, 4) >= 0.8:
                    expected[(ni, ci)] = round(sim, 4)
    assert set(got) == set(expected) and len(got) >= 8
    for k, v in got.items():
        assert abs(v - expected[k]) < 2e-4
    # prefilter safety: removing the prefilter entirely (margin=2 →
    # nothing filtered) must not change the result set
    out2 = embedding_neardup_incremental(spark, idx, corpus, new, cents,
                                         threshold=0.8, nprobe=2,
                                         prefilter_margin=2.0)
    assert {(r.new_id, r.corpus_id) for r in out2.collect()} == set(got)


def test_embedding_neardup_hi_regime_selective_and_complete(spark):
    """Production regime (threshold 0.9): the lsh_geometry(0.9)
    geometry must find every planted ~0.99-cosine twin while touching a
    candidate volume orders of magnitude below pair space."""
    import numpy as np
    from pyspark.sql import functions as F

    from jsonld_spark.operators.similarity import (banded_lsh_buckets,
                                                   embedding_neardup,
                                                   lsh_geometry)
    rs = np.random.RandomState(11)
    base = rs.normal(size=(200, 16))
    planted = [(1000 + i, base[i] + 0.05 * rs.normal(size=16))
               for i in range(10)]
    rows = ([(i, [float(x) for x in v]) for i, v in enumerate(base)]
            + [(j, [float(x) for x in v]) for j, v in planted])
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    g = lsh_geometry(0.9)
    assert g.achieved_recall >= 0.9 and g.candidate_fraction < 0.01
    planes = [[float(x) for x in r]
              for r in rs.normal(size=(g.planes_per_band * g.bands, 16))]
    pairs = {(r.id_a, r.id_b): r.sim
             for r in embedding_neardup(emb, threshold=0.9, planes=planes,
                                        bands=g.bands).collect()}
    # all 10 planted twins found (their sim ~0.99 → per-pair recall ~1)
    assert sum(1 for (a, b) in pairs if b == a + 1000) == 10
    # candidate volume: sum of C(bucket_size, 2) over (band, bucket)
    n = 210
    cand = (banded_lsh_buckets(emb, planes, g.bands)
            .groupBy("band", "bucket").count()
            .agg(F.sum(F.col("count") * (F.col("count") - 1) / 2))
            .first()[0])
    assert cand < 0.02 * (n * (n - 1) / 2)


def test_cosine_zero_vector_yields_null_not_nan(spark, tmp_path):
    """Review regression: a zero-norm vector (failed encoder) must
    yield NULL similarity — Spark orders NaN above every number, so a
    NaN would pass every threshold filter and rank first in top-k.
    Every top-k operator drops the NULL row rather than ranking it: the
    LSH and IVF ones are given one bucket / one list holding all three
    vectors, so the zero vector is a candidate everywhere."""
    from jsonld_spark.operators.similarity import (ann_cosine_topk,
                                                   build_ivf_index,
                                                   cosine_topk,
                                                   ivf_cosine_topk,
                                                   search_ivf_index)
    emb = spark.createDataFrame(
        [("z", [0.0, 0.0]), ("a", [1.0, 0.0]), ("b", [0.9, 0.1])],
        "vec_id string, embedding array<double>")
    q = spark.createDataFrame([("a", [1.0, 0.0])],
                              "query_id string, query_vec array<double>")
    got = cosine_topk(emb, q, k=2)
    rows = [(r["neighbor_id"], r["sim"]) for r in got.collect()]
    # the zero vector must NOT appear as a neighbor
    assert all(v != "z" for v, _ in rows), rows
    assert rows[0][0] in ("a", "b")

    cents = [[1.0, 0.0]]
    idx_dir = str(tmp_path / "index")
    build_ivf_index(emb, cents, idx_dir)
    for name, df in [
            ("ann", ann_cosine_topk(emb, q, [[-1.0, 0.0]], k=2)),
            ("ivf", ivf_cosine_topk(emb, q, cents, k=2, nprobe=1)),
            ("index", search_ivf_index(spark, idx_dir, emb, q, cents, k=2,
                                       nprobe=1))]:
        rows = [(r["neighbor_id"], r["sim"], r["rank"])
                for r in df.collect()]
        assert rows == [("b", rows[0][1], 1)], (name, rows)
        assert rows[0][1] is not None, name


def test_lsh_geometry_capped_fallback_picks_best_recall():
    """Review regression: under a band cap the fallback must keep the
    best-achieved-recall geometry, not the first tried — p=1 at 4
    bands has ~98% recall where p=16 at 4 bands has ~0.25%."""
    from jsonld_spark.operators.similarity import lsh_geometry
    import warnings
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        g = lsh_geometry(0.4, target_recall=0.99, max_bands=4)
    assert g.achieved_recall > 0.5, g
    import pytest as _pytest
    with _pytest.raises(ValueError, match="target_recall"):
        lsh_geometry(0.9, target_recall=1.0)


def test_lsh_bucket_arrays_numpy_matches_expr_form(spark):
    """The mapInArrow numpy bucket kernel must be BIT-identical to the
    JVM expression form — including null vectors, null elements,
    ragged lengths, and NaN components (all of which null the dot and
    zero the sign in the expression form)."""
    import numpy as np
    from pyspark.sql import functions as F

    from jsonld_spark.operators.similarity import (_lsh_buckets_expr,
                                                   lsh_bucket_arrays,
                                                   lsh_buckets)
    rs = np.random.RandomState(3)
    planes = [[round(float(x), 6) for x in row]
              for row in rs.normal(size=(8, 4))]
    rows = [(i, [float(x) for x in rs.normal(size=4)]) for i in range(50)]
    rows += [(100, None), (101, [1.0, 2.0]),             # null / short
             (102, [1.0, 2.0, 3.0, 4.0, 5.0]),           # long
             (103, [float("nan"), 1.0, 1.0, 1.0]),       # NaN component
             (104, [None, 1.0, 1.0, 1.0]),               # null element
             (105, [0.0, 0.0, 0.0, 0.0])]                # zero vector
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r["vec_id"]: r["buckets"]
           for r in lsh_bucket_arrays(df, planes, 2).collect()}
    want = {r["vec_id"]: r["buckets"]
            for r in df.select(
                "vec_id",
                _lsh_buckets_expr(planes, 2, "embedding").alias("buckets"))
            .collect()}
    assert got == want
    # the one-band kernel against lsh_buckets, the one-band expression
    got1 = {r["vec_id"]: r["buckets"]
            for r in lsh_bucket_arrays(df, planes, 1).collect()}
    want1 = {r["vec_id"]: [r["bucket"]]
             for r in lsh_buckets(df, planes).collect()}
    assert got1 == want1
