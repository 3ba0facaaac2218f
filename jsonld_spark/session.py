"""SparkSession factory with the engine's standard configuration."""

from __future__ import annotations

import os

from pyspark.sql import Observation, SparkSession
from pyspark.sql import types as T


def local_frame(spark, rows, schema):
    """A DataFrame of driver-side ``rows`` (tuples) with ``schema`` (a
    StructType or DDL string), built as an Arrow table: the result is a
    JVM ``LocalRelation``, so no pickled RDD, no Python worker and no
    job to read it (a DataFrame built from a Python list pays all
    three)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.table([pa.array(c, type=f.type) for c, f in zip(cols, arrow)],
                     schema=arrow)
    return spark.createDataFrame(table, schema)


def spread_partitions(df, min_factor: int = 1):
    """Repartition a DataFrame up to the session's default parallelism if
    the scan produced fewer partitions (small files → one split → every
    downstream expression and UDF runs on one core). No-op for inputs
    that already have enough splits — at warehouse scale a real table
    scan does, so this never adds a shuffle there."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism * min_factor
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def cut_lineage(df):
    """Materialize a DataFrame and truncate its lineage, unconditionally.

    This is the cut for correctness, and only three kinds of call use
    it: a plan must stop reading files it is about to overwrite
    (``upsert_documents``), a sampled range partitioning must stay
    fixed between two reads (``prefix_offsets``), and each round of
    ``fixpoint`` is a recovery point that keeps lineage from growing
    with the round count. A frame materialized for speed goes through
    ``reuse``; a frame whose size an operator needs goes through
    ``observed_cut``.

    Uses a **reliable** checkpoint (written to the session's configured
    checkpoint directory, surviving executor loss) when
    ``sparkContext.setCheckpointDir`` has been called; otherwise falls
    back to ``localCheckpoint`` (executor-local blocks — fine for tests
    and short jobs, lost on executor failure). Long multi-hour cluster
    jobs should set a checkpoint dir so iterative operators
    (connected components, canonicalization) survive executor churn.
    """
    sc = df.sparkSession.sparkContext
    if sc._jsc.sc().getCheckpointDir().isDefined():
        return df.checkpoint()
    return df.localCheckpoint()


#: optimized-plan nodes of a frame that is cheap to read again:
#: projections, filters and unions over a file scan, a cache, a
#: checkpoint or a local table
_STORED_PLAN = frozenset({"Project", "Filter", "Union", "LogicalRelation",
                          "InMemoryRelation", "LogicalRDD",
                          "LocalRelation"})


def reuse(df):
    """``df``, materialized if reading it again would recompute it.

    The one rule for speed cuts: an operator that reads one input in
    several plan branches (pattern joins, rule branches, union
    branches, a table read every fixpoint round) calls ``reuse`` once
    on that input, and its callers do not cut. Without it each branch
    re-runs the input's subtree: constants pushed below an exchange
    make sibling exchanges differ, so exchange reuse never fires.

    ``df`` comes back unchanged, with no job run, when its optimized
    plan is only Project, Filter or Union nodes over a file scan, a
    cache, a checkpoint or a local relation. Any other frame goes
    through ``cut_lineage``.
    """
    stack = [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        if node.nodeName() not in _STORED_PLAN:
            return cut_lineage(df)
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return df


def observed_cut(df, metric):
    """``cut_lineage(df)`` plus one aggregate ``metric`` over ``df``,
    observed on the job that materializes it: ``(df, value)``. For a
    frame whose size decides the operator's next step (a driver or
    distributed path, a broadcast, an early return, a fixpoint's stop)
    and which the operator reads again."""
    obs = Observation()
    df = cut_lineage(df.observe(obs, metric.alias("stat")))
    return df, obs.get["stat"]


def fixpoint(state, step, metric, done, max_rounds: int, stat=None):
    """The data-side fixpoint loop (SURVEY.md §4 item 2): each round
    materializes ``step(state)`` once via ``observed_cut(.., metric)``
    — a recovery point, whatever the plan — and stops when
    ``done(previous stat, stat)`` holds (``stat`` seeds the previous
    value). A persisted initial state is released after
    round 1. Returns ``(state, converged)``; the caller decides whether
    running out of ``max_rounds`` is an error."""
    for _ in range(max_rounds):
        new_state, new_stat = observed_cut(step(state), metric)
        if state.is_cached:
            state.unpersist()
        state, prev, stat = new_state, stat, new_stat
        if done(prev, stat):
            return state, True
    return state, False


def get_spark(app_name: str = "jsonld_spark", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # one reduce task per core by default: iterative fixpoint
        # operators (connected components, canonicalize) pay per-task
        # overhead × rounds, and 4× partitions measurably hurt them at
        # bench scale (cc_components 5.3 s → 8.4 s). Big ONE-PASS
        # shuffles are the opposite — straggler-bound in a single wave —
        # so the throughput bench uses 4 waves/core explicitly (+10%
        # measured); size-to-workload on a real cluster.
        n = cpus if cpus != "*" else "32"
        shuffle_partitions = int(n)
    builder = (
        SparkSession.builder.master(master).appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.ui.enabled", "false")
        # reliable checkpoints (cut_lineage with a checkpoint dir) are
        # full dataset copies; clean them when their RDD is GC'd, else a
        # long run accumulates copies until the store fills
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    return builder.getOrCreate()
