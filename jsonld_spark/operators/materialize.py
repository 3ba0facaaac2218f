"""Graph materialization: partitioned triple tables with per-partition
lineage manifests, metrics, and checkpoint-resume.

north_rule requirements covered here (SURVEY.md §4 items 1 & 4):

* **Per-partition lineage manifests + checkpoint-resume** — triples are
  hash-bucketed by subject (plain ``xxhash64(subj)``) into ``part=N``
  directories; after each partition's data is durably written, a
  manifest row (part, n_rows, fingerprint, run_id, wall_s) is appended.
  A partition with data but no manifest row is considered incomplete.
  Resume anti-joins the input's partition set against completed
  manifests and rewrites only the missing buckets (dynamic partition
  overwrite), so a killed job redoes only unfinished work. A build and
  an upsert commit through one protocol, ``_commit``. Manifest rows are
  built on the driver as a local Arrow relation
  (``session.local_frame``), so a commit's append is one JVM-only write
  job with no Python worker.
* **Salted two-phase aggregation by subject** — hub subjects (a popular
  IRI with 10^8 triples) would overload a single reducer in any
  ``groupBy(subj)``. ``detect_heavy_subjects`` finds heavy hitters from
  a sample sketch and ``salt_by_subject`` appends a salt derived from
  (pred, obj) for those subjects only, so ``subject_stats`` and
  ``graphstats.node_degrees`` aggregate in two phases (partial per
  salt, final per subject). AQE splits skewed *joins* but not
  ``groupBy``/``applyInPandas`` grouping, so this is explicit. The
  bucketing above is not salted: a bucket must hold every triple of
  its subjects.

The fingerprint is an order-independent aggregate (sum of per-row
xxhash64 in DECIMAL(38,0) — no overflow below 10^19 rows), so it is
stable under any task scheduling and lets ``verify_manifests`` audit a
materialized graph without re-running the pipeline.

Reference analogue: none — jsonld-java is single-process in-memory
(SURVEY.md §4); this layer is pure distribution concern.
"""

from __future__ import annotations

import time

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import local_frame, reuse
from .kernels import QUAD_COLS as TRIPLE_COLS

MANIFEST_SCHEMA = T.StructType([
    T.StructField("part", T.IntegerType()),
    T.StructField("n_rows", T.LongType()),
    T.StructField("fingerprint", T.StringType()),
    T.StructField("run_id", T.StringType()),
    T.StructField("wall_s", T.DoubleType()),
    T.StructField("committed_at", T.DoubleType()),
    # run-config identity: a manifest row only marks a partition done for
    # the SAME bucketing and input — resuming with a different n_buckets
    # (or input snapshot) must not silently mix stale buckets
    T.StructField("n_buckets", T.IntegerType()),
    T.StructField("input_id", T.StringType()),
])


# ---------------------------------------------------------------------------
# skew: heavy-subject detection + salted two-phase aggregation
# ---------------------------------------------------------------------------

def detect_heavy_subjects(triples: DataFrame, threshold: int = 1_000_000,
                          sample_fraction: float = 0.001) -> DataFrame:
    """Sample-sketch heavy hitters: subjects whose estimated triple count
    exceeds ``threshold``. The sample keeps the sketch cost O(n·fraction)
    and its own groupBy un-skewed enough in practice; result is tiny
    (hub subjects are rare by definition) and meant to be broadcast."""
    if sample_fraction >= 1.0:
        counts = triples.groupBy("subj").count()
        return counts.where(F.col("count") >= threshold).select("subj")
    scaled = int(max(1.0, threshold * sample_fraction))
    return (triples.sample(fraction=sample_fraction, seed=42)
            .groupBy("subj").count()
            .where(F.col("count") >= scaled)
            .select("subj"))


def salt_by_subject(triples: DataFrame, heavy: DataFrame,
                    n_salts: int = 16) -> DataFrame:
    """Append a ``salt`` column: 0 for normal subjects; for heavy
    subjects a deterministic hash of (pred, obj_value) mod n_salts, so
    one hub subject spreads over ``n_salts`` reducers. Deterministic —
    never derived from task ids or randomness."""
    tagged = triples.join(
        F.broadcast(heavy.select("subj", F.lit(True).alias("_heavy"))),
        "subj", "left")
    salt = (F.when(F.col("_heavy").isNotNull(),
                   F.pmod(F.xxhash64("pred", "obj_value"), F.lit(n_salts)))
            .otherwise(F.lit(0))).cast("int")
    return tagged.withColumn("salt", salt).drop("_heavy")


def subject_stats(triples: DataFrame, heavy_threshold: int = 1_000_000,
                  sample_fraction: float = 0.001,
                  n_salts: int = 16) -> DataFrame:
    """Per-subject rollup (triple count, distinct predicates) computed
    skew-safely in two phases:

      phase 1: groupBy(subj, salt)  — partial counts/sets, ≤ n_salts
               partial rows per hub subject, each bounded in size;
      phase 2: groupBy(subj)        — merges ≤ n_salts tiny rows.

    The phase-2 shuffle moves only the partials, never the raw triples
    of a hub subject through one reducer.
    """
    # read by the heavy-hitter sample and the salted aggregate
    triples = reuse(triples)
    heavy = detect_heavy_subjects(triples, heavy_threshold, sample_fraction)
    salted = salt_by_subject(triples, heavy, n_salts)
    partial = (salted.groupBy("subj", "salt")
               .agg(F.count(F.lit(1)).alias("_n"),
                    F.collect_set("pred").alias("_preds")))
    return (partial.groupBy("subj")
            .agg(F.sum("_n").cast("long").alias("n_triples"),
                 F.array_sort(F.array_distinct(F.flatten(
                     F.collect_list("_preds")))).alias("preds")))


# ---------------------------------------------------------------------------
# partitioned materialization + lineage manifests
# ---------------------------------------------------------------------------

def with_partition(triples: DataFrame, n_buckets: int = 256) -> DataFrame:
    """Deterministic subject hash bucket — co-locates every triple of a
    subject, so downstream subject-local work (fromRDF grouping, entity
    merge) reads one bucket without a shuffle."""
    return triples.withColumn(
        "part", F.pmod(F.xxhash64("subj"), F.lit(n_buckets)).cast("int"))


def _fingerprints(parted: DataFrame) -> DataFrame:
    row_hash = F.xxhash64(*[F.coalesce(F.col(c).cast("string"), F.lit("\x00"))
                            for c in TRIPLE_COLS])
    return (parted.groupBy("part")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum(row_hash.cast("decimal(38,0)")).cast("string")
                  .alias("fingerprint")))


def _manifest_path(out_dir: str) -> str:
    return f"{out_dir}/manifests"


def _index_path(out_dir: str) -> str:
    return f"{out_dir}/doc_index"


def _data_path(out_dir: str) -> str:
    return f"{out_dir}/triples"


def _delete_path(spark: SparkSession, path: str) -> None:
    """Recursively delete ``path`` through the Hadoop FileSystem API, so
    rebuilds work on any supported scheme (local, HDFS, s3a...)."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(p):
        fs.delete(p, True)


def _is_missing_table(exc: AnalysisException) -> bool:
    """True only for the two analysis conditions that mean "nothing
    materialized yet": PATH_NOT_FOUND and UNABLE_TO_INFER_SCHEMA (an
    empty directory). Every other AnalysisException — corrupt footer,
    ambiguous schema, access failure surfacing as analysis — must
    PROPAGATE: treating it as an empty graph re-opens the silent-
    data-loss path the round-5 fix closed (advice finding)."""
    # getCondition is the 4.x API; getErrorClass only exists as its
    # deprecated alias, so it is consulted ONLY when getCondition is
    # absent (3.x) — calling both would warn per exception
    fn = getattr(exc, "getCondition", None) \
        or getattr(exc, "getErrorClass", None)
    cond = None
    if fn is not None:
        try:
            cond = fn()
        except Exception:  # noqa: BLE001 - introspection best-effort
            cond = None
    if cond:
        return cond in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")
    msg = str(exc)
    return ("PATH_NOT_FOUND" in msg or "Path does not exist" in msg
            or "UNABLE_TO_INFER_SCHEMA" in msg)


def _read(spark: SparkSession, path: str,
          schema: T.StructType | str) -> DataFrame | None:
    """The parquet table at ``path`` under a fixed schema (no footer
    inference job), or None when nothing is materialized there yet.
    ONLY the missing-table analysis conditions mean None — a transient
    read failure must propagate, else an upsert's ``keep`` set would be
    empty and the overwrite would silently delete every unchanged
    document's rows in the affected buckets."""
    try:
        return spark.read.schema(schema).parquet(path)
    except AnalysisException as e:
        if not _is_missing_table(e):
            raise
        return None


def read_manifests(spark: SparkSession, out_dir: str) -> DataFrame:
    man = _read(spark, _manifest_path(out_dir), MANIFEST_SCHEMA)
    # first run: no manifest table yet
    return local_frame(spark, [], MANIFEST_SCHEMA) if man is None else man


def _commit(spark: SparkSession, out_dir: str, parts: DataFrame,
            t0: float, run_id: str, n_buckets: int, input_id: str | None,
            affected=()) -> tuple[list, list[int]]:
    """Commit ``parts`` (triples plus their ``part`` column) to the graph
    at ``out_dir``: overwrite the buckets it holds rows for, and empty
    the ``affected`` buckets it holds none for. The caller makes
    ``parts`` stable, because it is read by the fingerprint pass and
    both writes. Returns (per-bucket fingerprint rows, emptied parts).

    Crash order: data, then doc index, then manifests, then deletes.
    Data and index partitions are written by dynamic partition
    overwrite, atomic per directory. Manifests are the source of truth:
    a crash before their append leaves data with no (or a stale)
    manifest row, which a build's resume redoes and a replayed upsert
    rewrites to the same content — if the replay reaches the bucket
    through its new rows or the doc index. A bucket that only lost a
    document it shares with others is reached by neither once its
    index partition is rewritten, and stays ``mismatch`` (an open
    gap, ROADMAP direction 2). Manifest rows go BEFORE the
    empty-bucket deletes: crashing between the two leaves a 0-row
    manifest over a stale directory, which ``verify_manifests`` reports
    as ``mismatch`` and replaying the same upsert repairs (the stale
    doc-index partition still routes the bucket into ``affected``).
    Deleting first could strand a stale non-zero manifest row with no
    data AND no index partition, which a replay can never repair."""
    stats = _fingerprints(parts).collect()
    written = {int(r["part"]) for r in stats}
    emptied = [p for p in affected if p not in written]
    if not stats and not emptied:
        return stats, emptied
    if stats:
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode",
                              "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            (parts.write.mode("overwrite").partitionBy("part")
             .parquet(_data_path(out_dir)))
            # doc→bucket index: lets upsert_documents find the buckets a
            # changed doc touches WITHOUT scanning the triple table
            (parts.select("part", "doc_id").distinct()
             .write.mode("overwrite").partitionBy("part")
             .parquet(_index_path(out_dir)))
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    # each written or emptied bucket's share of the commit's wall time
    share = (time.time() - t0) / (len(stats) + len(emptied))
    stamp = (run_id, round(share, 6), time.time(), n_buckets, input_id)
    rows = [(int(r["part"]), int(r["n_rows"]), str(r["fingerprint"])) + stamp
            for r in stats] + [(p, 0, "0") + stamp for p in emptied]
    (local_frame(spark, rows, MANIFEST_SCHEMA)
     .coalesce(1).write.mode("append").parquet(_manifest_path(out_dir)))
    for p in emptied:  # dynamic overwrite can't write an empty bucket
        _delete_path(spark, f"{_data_path(out_dir)}/part={p}")
        _delete_path(spark, f"{_index_path(out_dir)}/part={p}")
    return stats, emptied


def materialize_graph(triples: DataFrame, out_dir: str,
                      n_buckets: int = 256, run_id: str = "r0",
                      resume: bool = True,
                      input_id: str | None = None) -> dict:
    """Write the triple table partitioned by subject bucket with a
    lineage manifest per partition; on re-run, redo only partitions
    without a committed manifest row (checkpoint-resume). The commit
    protocol (data before manifests; manifests are the source of
    truth) is ``_commit``'s.

    ``input_id`` names the input (e.g. a source-table snapshot id or a
    content fingerprint); it is recorded in the manifests. Resuming is
    **refused** (ValueError) when the existing manifests were written
    with a different ``n_buckets`` — part numbers are meaningless across
    bucketings — or a different non-null ``input_id``; pass
    ``resume=False`` to rebuild from scratch instead.

    Returns metrics: {"pending": int, "skipped": int, "rows": int,
    "wall_s": float}.
    """
    spark = triples.sparkSession
    parted = with_partition(triples, n_buckets)

    if resume:
        # one read of the manifests answers both the config check and
        # the set of completed buckets
        cfgs = (read_manifests(spark, out_dir)
                .select("part", "n_buckets", "input_id").distinct()
                .collect())
        for r in cfgs:
            if r["n_buckets"] is not None and r["n_buckets"] != n_buckets:
                raise ValueError(
                    f"cannot resume {out_dir!r}: manifests were written "
                    f"with n_buckets={r['n_buckets']}, current run uses "
                    f"{n_buckets}; pass resume=False to rebuild")
            if (r["input_id"] is not None and input_id is not None
                    and r["input_id"] != input_id):
                raise ValueError(
                    f"cannot resume {out_dir!r}: manifests record "
                    f"input_id={r['input_id']!r}, current run reads "
                    f"{input_id!r}; pass resume=False to rebuild")
        done = sorted({r["part"] for r in cfgs})
        n_done = len(done)
        if n_done and input_id is None:
            # without an input identity the resume CANNOT tell a crash
            # re-run (same input — skip completed buckets, the intended
            # use) from a re-run against grown/changed input, where
            # skipping silently drops every new row that hashes to a
            # manifested bucket. Warn loudly; callers with evolving
            # inputs must pass input_id (mismatch then refuses above) or
            # use upsert_documents.
            import warnings
            warnings.warn(
                f"materialize_graph: resuming {out_dir!r} with "
                f"{n_done} manifested bucket(s) and no input_id — if the "
                "input changed since the prior run, rows hashing to those "
                "buckets are SKIPPED; pass input_id to pin the input, "
                "resume=False to rebuild, or upsert_documents for "
                "incremental updates", stacklevel=2)
        pending = parted.where(~F.col("part").isin(done))
    else:
        # rebuild from scratch: stale part directories under a different
        # bucketing would leak into read_graph (dynamic overwrite only
        # replaces partitions the new run writes), and stale manifest
        # config rows would block every future resume — clear both.
        # Nothing is done yet, so no manifest is read back.
        _delete_path(spark, _data_path(out_dir))
        _delete_path(spark, _manifest_path(out_dir))
        _delete_path(spark, _index_path(out_dir))
        n_done = 0
        pending = parted

    t0 = time.time()
    # one pass computes both the data write and the lineage rows
    pending = pending.persist()
    try:
        stats, _ = _commit(spark, out_dir, pending, t0, run_id, n_buckets,
                           input_id)
    finally:
        pending.unpersist()
    return {"pending": len(stats), "skipped": n_done,
            "rows": sum(int(r["n_rows"]) for r in stats),
            "wall_s": round(time.time() - t0, 3) if stats else 0.0}


_GRAPH_SCHEMA = T.StructType(
    [T.StructField(c, T.StringType()) for c in TRIPLE_COLS]
    + [T.StructField("part", T.IntegerType())])


def read_graph(spark: SparkSession, out_dir: str) -> DataFrame:
    g = _read(spark, _data_path(out_dir), _GRAPH_SCHEMA)
    # every bucket deleted (or nothing materialized yet): an empty
    # typed table
    return local_frame(spark, [], _GRAPH_SCHEMA) if g is None else g


def read_doc_index(spark: SparkSession, out_dir: str) -> DataFrame:
    """(part, doc_id) — which buckets hold triples of which document.
    Graphs materialized before the index existed fall back to deriving
    it from the triple table (one narrow two-column scan)."""
    idx = _read(spark, _index_path(out_dir), "doc_id string, part int")
    if idx is None:
        return read_graph(spark, out_dir).select("part", "doc_id").distinct()
    return idx.select("part", "doc_id")


def upsert_documents(new_triples: DataFrame, out_dir: str,
                     deleted_doc_ids: DataFrame | None = None,
                     run_id: str = "u0",
                     input_id: str | None = None) -> dict:
    """Incremental refresh of a materialized graph: every triple of the
    documents appearing in ``new_triples`` (by ``doc_id``) is replaced
    with the new rows; documents in ``deleted_doc_ids`` (a (doc_id)
    DataFrame) are removed; all other documents are untouched.

    Only the buckets a changed document actually touches are rewritten —
    discovered from the doc→bucket index (written at materialize time),
    never by scanning the 100 TB triple table. A bucket left empty by a
    pure delete has its directory removed and a zero-row manifest
    committed (``verify_manifests`` reads manifest-says-empty + no data
    dir as ok).

    Commit protocol: ``_commit``. Re-running the same upsert after a
    crash is idempotent — affected buckets are simply rewritten to the
    same content.
    """
    spark = new_triples.sparkSession
    from ..session import cut_lineage, observed_cut
    cfgs = (read_manifests(spark, out_dir)
            .select("n_buckets").where(F.col("n_buckets").isNotNull())
            .distinct().collect())
    if len(cfgs) != 1:
        raise ValueError(
            f"cannot upsert {out_dir!r}: expected exactly one manifest "
            f"bucketing, found {[r[0] for r in cfgs]}; materialize the "
            f"graph first (or rebuild it) before upserting")
    n_buckets = int(cfgs[0][0])

    t0 = time.time()
    new_parted = with_partition(new_triples.select(*TRIPLE_COLS), n_buckets)
    changed = new_parted.select("doc_id").distinct()
    if deleted_doc_ids is not None:
        changed = changed.unionByName(deleted_doc_ids.select("doc_id")) \
                         .distinct()
    # read by the index probe AND the anti-join
    changed, n_changed = observed_cut(changed, F.count(F.lit(1)))

    # affected = buckets receiving new rows ∪ buckets holding old rows of
    # changed docs (index lookup, not a triple-table scan)
    idx_hits = read_doc_index(spark, out_dir) \
        .join(changed, "doc_id", "left_semi").select("part")
    affected = sorted(r["part"] for r in
                      new_parted.select("part")
                      .unionByName(idx_hits).distinct().collect())
    if not affected:
        return {"affected": 0, "docs_changed": int(n_changed), "rows": 0,
                "deleted_buckets": 0, "wall_s": round(time.time() - t0, 3)}

    keep = (read_graph(spark, out_dir)
            .where(F.col("part").isin(affected))
            .join(changed, "doc_id", "left_anti")
            .select(*TRIPLE_COLS, "part"))
    # correctness: materialize BEFORE the overwrite, so the plan stops
    # reading the files it is about to replace (the checkpoint blocks
    # also serve the fingerprint pass and both writes)
    replacement = cut_lineage(keep.unionByName(new_parted))
    stats, emptied = _commit(spark, out_dir, replacement, t0, run_id,
                             n_buckets, input_id, affected)
    return {"affected": len(affected), "docs_changed": int(n_changed),
            "rows": sum(int(r["n_rows"]) for r in stats),
            "deleted_buckets": len(emptied),
            "wall_s": round(time.time() - t0, 3)}


def verify_manifests(spark: SparkSession, out_dir: str) -> DataFrame:
    """Audit: recompute per-partition fingerprints from the written data
    and diff against the manifest table → (part, status) where status ∈
    ok | missing_data | missing_manifest | mismatch."""
    data_fp = _fingerprints(read_graph(spark, out_dir)) \
        .withColumnRenamed("n_rows", "data_rows") \
        .withColumnRenamed("fingerprint", "data_fp")
    man = (read_manifests(spark, out_dir)
           .groupBy("part").agg(F.max_by("n_rows", "committed_at").alias("n_rows"),
                                F.max_by("fingerprint", "committed_at")
                                .alias("fingerprint")))
    j = man.join(data_fp, "part", "full_outer")
    status = (F.when(F.col("fingerprint").isNull(), "missing_manifest")
              # a bucket emptied by upsert delete: manifest says 0 rows
              # and the data dir is legitimately gone
              .when(F.col("data_fp").isNull() & (F.col("n_rows") == 0), "ok")
              .when(F.col("data_fp").isNull(), "missing_data")
              .when((F.col("fingerprint") == F.col("data_fp"))
                    & (F.col("n_rows") == F.col("data_rows")), "ok")
              .otherwise("mismatch"))
    return j.select("part", status.alias("status"))
