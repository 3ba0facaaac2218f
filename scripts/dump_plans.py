"""Write the optimized logical plan of ``__spark_entry__.queries()`` rows.

    python3 scripts/dump_plans.py 'sparql_*' 'bgp_*' --sf SF_DIR --out DIR

Each row whose name matches one of the globs is built on ``SF_DIR`` and
its optimized logical plan goes to ``DIR/<name>.txt``. Expression ids
(``#123``) and ``plan_id=`` tags are normalised, so two checkouts that
build the same plan write the same file and ``diff -r`` compares them.

Each row is then collected, and ``DIR/_counts.tsv`` gets one line per
row: the executed plan's Exchange and Python-eval node counts (the node
names ``perfbench/probe.py:plan_counts`` counts) and the number of Spark
jobs the row ran, building and collecting, inside one job group. Two
checkouts' count files compare the same way. Run from the repository
root.
"""

from __future__ import annotations

import argparse
import fnmatch
import os
import re
import sys

sys.path.insert(0, os.getcwd())
sys.path.insert(0, os.path.join(os.getcwd(), "perfbench"))


def normalise(plan: str) -> str:
    plan = re.sub(r"#\d+", "#", plan)
    return re.sub(r"plan_id=\d+", "plan_id=", plan)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("globs", nargs="+", metavar="NAME_GLOB")
    ap.add_argument("--sf", required=True, help="scale-factor directory")
    ap.add_argument("--out", required=True, help="output directory")
    args = ap.parse_args()

    import __spark_entry__ as entry
    from jsonld_spark.session import get_spark
    from probe import plan_counts

    rows = {name: fn for name, fn in entry.queries().items()
            if any(fnmatch.fnmatchcase(name, g) for g in args.globs)}
    if not rows:
        sys.exit(f"no queries() row matches {args.globs}")
    spark = get_spark("dump_plans", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    os.makedirs(args.out, exist_ok=True)
    counts = ["row\texchanges\tpython_eval\tjobs"]
    for name in sorted(rows):
        sc.setJobGroup(name, name)
        try:
            df = rows[name](spark, args.sf)
            plan = df._jdf.queryExecution().optimizedPlan().toString()
            df.collect()
            jobs = len(sc.statusTracker().getJobIdsForGroup(name))
        finally:
            sc.setJobGroup(None, None)
        with open(os.path.join(args.out, f"{name}.txt"), "w") as fh:
            fh.write(normalise(plan))
        exchanges, python = plan_counts(df)
        counts.append(f"{name}\t{exchanges}\t{python}\t{jobs}")
        print(counts[-1], flush=True)
    with open(os.path.join(args.out, "_counts.tsv"), "w") as fh:
        fh.write("\n".join(counts) + "\n")
    spark.stop()


if __name__ == "__main__":
    main()
