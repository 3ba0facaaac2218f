"""``session.reuse``: the one rule for speed cuts. A frame whose plan
is already stored comes back unchanged without a job; any other frame
is materialized."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setJobGroup(None, None)


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.fixture(scope="module")
def parquet_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("reuse") / "t")
    spark.range(200).selectExpr("id", "cast(id % 7 as string) AS k") \
        .write.parquet(path)
    return path


@pytest.mark.parametrize("kind", ["persisted", "checkpointed",
                                  "filtered_scan", "local_frame"])
def test_reuse_keeps_stored_frames(spark, parquet_path, kind):
    from jsonld_spark.session import cut_lineage, local_frame, reuse
    scan = spark.read.parquet(parquet_path)
    if kind == "persisted":
        df = scan.groupBy("k").count().persist()
        df.count()
    elif kind == "checkpointed":
        df = cut_lineage(scan.groupBy("k").count())
    elif kind == "filtered_scan":
        df = scan.where(F.col("id") > 10).select("k")
    else:
        df = local_frame(spark, [("a", 1), ("b", 2)], "k string, n int")
    out, jobs = _jobs(spark, f"reuse_{kind}", lambda: reuse(df))
    assert out is df
    assert jobs == 0
    if kind == "persisted":
        df.unpersist()


@pytest.mark.parametrize("kind", ["aggregate", "map_in_arrow"])
def test_reuse_cuts_computed_frames(spark, parquet_path, kind):
    from jsonld_spark.session import reuse
    scan = spark.read.parquet(parquet_path)
    if kind == "aggregate":
        df = scan.groupBy("k").count()
    else:
        df = scan.mapInArrow(lambda batches: iter(batches), scan.schema)
    out = reuse(df)
    assert out is not df
    assert "LogicalRDD" in _optimized(out)
    assert sorted(out.collect()) == sorted(df.collect())
