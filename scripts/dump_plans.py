"""Write the optimized logical plan of ``__spark_entry__.queries()`` rows.

    python3 scripts/dump_plans.py 'sparql_*' 'bgp_*' --sf SF_DIR --out DIR

Each row whose name matches one of the globs is built on ``SF_DIR`` and
its optimized logical plan goes to ``DIR/<name>.txt``. Numbers that
follow the session's history rather than the plan are normalised:
expression ids (``#123``), ``plan_id=`` tags, lambda variable suffixes
(``lambda x_71#``) and the group ids ``RewriteDistinctAggregates``
gives ``COUNT(DISTINCT ...)`` groups. So two checkouts that build the
same plan write the same file and ``diff -r`` compares them.

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


_GID = re.compile(r"\(gid# = (\d+)\)")


def _split(body: str) -> list[str]:
    """Top-level comma-separated items of a bracket's contents."""
    out, depth, start = [], 0, 0
    for j, ch in enumerate(body):
        depth += ch in "(["
        depth -= ch in ")]"
        if ch == "," and depth == 0:
            out.append(body[start:j].strip())
            start = j + 1
    return out + [body[start:].strip()]


def _canonical_expand(lines: list[str], top: int, i: int,
                      order: dict[str, str]) -> None:
    """Rewrite the ``Expand`` at ``lines[i]`` below the aggregate at
    ``lines[top]``: gid literals renumbered by ``order``, the distinct
    children (the columns some projection nulls) in the order the
    aggregate names them, and the projections listed by gid. The
    aggregate lines between take the same column order."""
    k = lines[i].index("Expand [") + len("Expand ")
    projections, out = _split(lines[i][k:])
    outputs = _split(out[1:-1])
    if "gid#" not in outputs:
        return
    g = outputs.index("gid#")
    rows = [_split(r[1:-1]) for r in _split(projections[1:-1])]
    for r in rows:
        r[g] = order.get(r[g], r[g])
    rows.sort(key=lambda r: int(r[g]) if r[g].isdigit() else -1)
    children = [c for c in range(g) if any(r[c] == "null" for r in rows)]

    def named_at(c: int) -> int:
        m = re.search(r"(?<!\w)" + re.escape(outputs[c]), lines[top])
        return m.start() if m else len(lines[top])

    perm = list(range(len(outputs)))
    for c, new in zip(children, sorted(children, key=named_at)):
        perm[c] = new
    old_cols = "[" + ", ".join(outputs) + "]"
    new_cols = "[" + ", ".join(outputs[c] for c in perm) + "]"
    rows = [[r[c] for c in perm] for r in rows]
    lines[i] = (lines[i][:k] + "[" + ", ".join("[" + ", ".join(r) + "]"
                                               for r in rows)
                + "], " + new_cols)
    for j in range(top + 1, i):
        lines[j] = lines[j].replace(old_cols, new_cols)


def _canonical_gids(plan: str) -> str:
    """Canonicalise what ``RewriteDistinctAggregates`` derives from
    hash order: it numbers the distinct-aggregate groups and orders
    their child columns by hashes of expressions that carry expression
    ids, so the same query can swap ``gid = 1`` and ``gid = 2`` (and
    the columns) with what the session ran before. Groups are
    renumbered in the order the aggregate above the ``Expand`` names
    them; group 0 (the regular aggregates) keeps its number."""
    lines = plan.split("\n")
    order: dict[str, str] = {}
    top = 0
    for i, line in enumerate(lines):
        gids = [g for g in _GID.findall(line) if g != "0"]
        if gids:
            order, top = {}, i
            for g in gids:
                order.setdefault(g, str(len(order) + 1))
            lines[i] = _GID.sub(
                lambda m: f"(gid# = {order.get(m[1], m[1])})", line)
        elif order and "Expand [[" in line:
            _canonical_expand(lines, top, i, order)
            order = {}
    return "\n".join(lines)


def normalise(plan: str) -> str:
    plan = re.sub(r"#\d+", "#", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=", plan)
    plan = re.sub(r"lambda (\w+?)_\d+#", r"lambda \1_#", plan)
    return _canonical_gids(plan)


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
