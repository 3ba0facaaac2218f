#!/usr/bin/env python3
"""Layered benchmark of the jsonld_spark engine.

    python3 perfbench/run.py --workload build_refresh --seed 1 \
        --seconds 5 --trace 0

Workloads (``workloads.py``), inputs made from ``--seed`` (``gen.py``):

* ``build_refresh``: the flagship job as ``scripts/run_pipeline.py``
  runs it (assemble → extract → error split → dedup →
  ``materialize_graph``), then a 1 % ``upsert_documents`` batch.
* ``curate_query``: ``docs_to_triples`` → ``canonicalize_triples`` →
  distributed ``connected_components`` → ``link_triples``, then a
  SPARQL / BGP / property-path query mix (``rdfs_closure`` runs in the
  traced probe pass).

One process, one Spark session at ``local[4]``, one closed-loop client:
an iteration starts when the previous one has finished and been
checked (untimed). Set-up is the session start, the median of
``SETUP_REPS`` input generations, the workload's engine set-up and one
warm-up iteration. The loop runs until ``--seconds`` of iteration time
have passed, and at least one iteration. A warm iteration takes 8-20 s
on 4 cores, almost all of it per-job overhead, and a cold one about
twice that; with ``--seconds 5`` a run measures one iteration and takes
about a minute. Run-to-run spread comes from the machine's speed
drifting between runs, which more iterations per run do not remove.

``--trace 0`` prints the end-to-end metrics: ``setup_s``, ``wall_s``
(median iteration) and ``triples_per_s`` (median over iterations of the
triples an iteration produces over its wall time: the built graph's
rows plus the batch's changed rows on build_refresh, the extracted
quads on curate_query). ``--trace 1`` alternates
untraced and traced iterations (spans, Spark job groups, event-log
shuffle bytes, physical plan node counts) and prints the per-layer
metrics, named by module:

* ``core.*`` (single-process kernel probe) and ``pipeline.extract*`` /
  ``pipeline.boundary_ratio`` move ``triples_per_s``;
* ``sources.assemble_s``, ``pipeline.dedup_s`` and ``materialize.*``
  move build_refresh ``wall_s``;
* ``canonicalize.*``, ``linking.*``, ``sparql.*``, ``kg.*`` and
  ``query.p50_ms`` / ``query.p90_ms`` move curate_query ``wall_s``;
* ``<layer>.self_s`` / ``.jobs`` / ``.shuffle_bytes`` move ``wall_s`` of
  the workload where that layer does the work; ``session.start_s``
  moves ``setup_s``; ``session.peak_rss_mb`` is the median over
  iterations of the peak RSS summed over the driver, the JVM and the
  Python workers (it jumps by ~1 GB between runs of the same code, as
  Spark forks Python workers on demand, so it carries no bound).

A line ``perfbench: {...}`` gives per-iteration walls, failures, query
latencies, the malformed-document share, peak RSS, storage per triple
and output digests. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

Scratch files (inputs, graphs, Spark local dirs, event logs) live under
``perfbench/_work/`` in the checkout and are removed on exit; a traced
run writes its spans, one JSON object per line, to
``perfbench/traces/<workload>-seed<seed>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
CORES = 4
SETUP_REPS = 3
LAYERS = ("sources", "pipeline", "materialize", "canonicalize", "linking",
          "sparql", "kg", "iteration")


def _configure(work: Path, trace: bool) -> None:
    """Process environment and Spark conf dir, before the JVM starts:
    workers import the package from the checkout, and every Spark and
    Python scratch file goes under ``work``."""
    conf = work / "conf"
    for d in ("conf", "tmp", "spark-local", "events"):
        (work / d).mkdir(parents=True, exist_ok=True)
    (conf / "spark-defaults.conf").write_text("\n".join([
        f"spark.local.dir {work / 'spark-local'}",
        f"spark.sql.warehouse.dir {work / 'warehouse'}",
        "spark.driver.extraJavaOptions -XX:-UsePerfData"
        f" -Djava.io.tmpdir={work / 'tmp'}",
        "spark.ui.showConsoleProgress false",
        f"spark.eventLog.enabled {'true' if trace else 'false'}",
        f"spark.eventLog.dir file://{work / 'events'}",
        "spark.eventLog.compress false",
        "spark.eventLog.rolling.enabled false",
        "",
    ]))
    (conf / "log4j2.properties").write_text("\n".join([
        "rootLogger.level = error",
        "rootLogger.appenderRef.stderr.ref = console",
        "appender.console.type = Console",
        "appender.console.name = console",
        "appender.console.target = SYSTEM_ERR",
        "appender.console.layout.type = PatternLayout",
        "appender.console.layout.pattern = %d{HH:mm:ss} %p %c{1}: %m%n",
        "",
    ]))
    os.environ["SPARK_CONF_DIR"] = str(conf)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    # at 1g the heap stays ~70 % full and G1 pauses take ~15 % of an
    # iteration; the engine's own default is 8g
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    paths = [str(ROOT), str(BENCH_DIR)]
    if os.environ.get("PYTHONPATH"):
        paths.append(os.environ["PYTHONPATH"])
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    import tempfile
    tempfile.tempdir = str(work / "tmp")


def _start_session():
    from jsonld_spark.session import get_spark
    return get_spark("perfbench", master=f"local[{CORES}]")


def _p90(values: list[float]) -> float:
    return statistics.quantiles(values, n=10, method="inclusive")[8]


class Loop:
    """Closed-loop measurement of one workload under one tracer: each
    iteration starts after the previous one finished and was checked."""

    def __init__(self, wl, spark, tracer, rss):
        self.wl, self.spark, self.tr, self.rss = wl, spark, tracer, rss
        self.walls: list[float] = []
        self.rates: list[float] = []
        self.ops_ms: list[float] = []
        self.rss_peaks: list[int] = []
        self.outcomes = []
        self.attempted = 0
        self.failed = 0

    def doc_error_frac(self) -> float | None:
        """Error rows over documents attempted, across iterations."""
        docs = sum(o.docs for o in self.outcomes)
        return sum(o.error_docs for o in self.outcomes) / docs if docs \
            else None

    def peak_rss_mb(self) -> float:
        """Median over iterations of each one's peak summed RSS."""
        return statistics.median(self.rss_peaks) / 2**20

    def last_layer(self, key: str) -> float | None:
        return self.outcomes[-1].layer.get(key) if self.outcomes else None

    def step(self) -> float:
        """One iteration and its check; returns the timed seconds."""
        self.tr.iteration = self.attempted
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.rss.sampling(), self.tr.span("iteration"):
                out = self.wl.run(self.spark, self.tr)
            wall = time.perf_counter() - t0
            outcome = self.wl.check(self.spark, out)
        except Exception:  # noqa: BLE001 - an iteration that raises fails
            traceback.print_exc()
            self.failed += 1
            return time.perf_counter() - t0
        if not outcome.ok:
            self.failed += 1
        self.walls.append(wall)
        self.rates.append(outcome.triples / wall)
        self.ops_ms.extend(outcome.ops_ms)
        self.rss_peaks.append(self.rss.peak_bytes)
        self.outcomes.append(outcome)
        return wall


def run_loops(loops: list[Loop], budget_s: float) -> None:
    """Step the loops in turn, each at least once, until their timed
    total reaches the budget; stop at the first failed iteration."""
    timed = 0.0
    while True:
        for lp in loops:
            timed += lp.step()
        if timed >= budget_s or any(lp.failed for lp in loops):
            return


def _end_to_end(setup_s: float, loop: Loop) -> dict:
    med = statistics.median
    return {"setup_s": (setup_s, "s"),
            "wall_s": (med(loop.walls), "s"),
            "triples_per_s": (med(loop.rates), "triples/s")}


def _per_layer(tracer, untraced: Loop, traced: Loop, probes: dict,
               session_s: float, shuffle: dict[str, int]) -> dict:
    """Every per-layer metric; 0 where the workload does not run the
    layer. Span figures are medians over the traced iterations; a layer
    that only the probes touch reports the probe pass."""
    from probe import layer_of
    med = statistics.median
    units = per_layer_units()
    out = dict.fromkeys(units, 0.0)
    out["session.start_s"] = session_s
    out["session.peak_rss_mb"] = untraced.peak_rss_mb()
    self_s = tracer.self_times()
    per_iter: dict[tuple, float] = {}
    for r, own in zip(tracer.spans, self_s):
        layer = layer_of(r["name"])
        for key, val in (("self_s", own), ("jobs", len(r["jobs"])),
                         ("shuffle_bytes", shuffle.get(r["group"], 0))):
            k = (layer, key, r["iter"])
            per_iter[k] = per_iter.get(k, 0.0) + val
    iters = range(traced.attempted)
    for layer in LAYERS:
        for key in ("self_s", "jobs", "shuffle_bytes"):
            vals = [per_iter.get((layer, key, i), 0.0) for i in iters]
            out[f"{layer}.{key}"] = (med(vals) if any(vals) else
                                     per_iter.get((layer, key, "probe"), 0.0))
    by_name: dict[str, list[float]] = {}
    for r in tracer.spans:
        by_name.setdefault(r["name"], []).append(r["end"] - r["start"])
    spans = dict(SPAN_METRICS)
    spans.update({f"{layer}.exec_s.{kind}": f"{layer}.exec.{kind}"
                  for layer, kind in _query_kinds()})
    for metric, span in spans.items():
        if span in by_name:
            out[metric] = med(by_name[span])
    for k in {k for o in traced.outcomes for k in o.layer}:
        out[k] = med([o.layer[k] for o in traced.outcomes if k in o.layer])
    out.update(probes)
    outs = traced.outcomes
    if outs and outs[0].docs:
        out["pipeline.error_rows"] = med([o.error_docs for o in outs])
        out["pipeline.doc_error_frac"] = (out["pipeline.error_rows"]
                                          / outs[0].docs)
    if out["pipeline.extract_s"]:
        out["pipeline.extract_triples_per_s"] = (
            med([o.extracted for o in outs]) / out["pipeline.extract_s"])
        out["pipeline.boundary_ratio"] = (
            out["pipeline.extract_triples_per_s"]
            / (out["core.quads_per_s"] * CORES))
    if untraced.ops_ms:
        out["query.p50_ms"] = med(untraced.ops_ms)
        out["query.p90_ms"] = _p90(untraced.ops_ms)
    base = med(untraced.walls)
    out["trace.overhead_frac"] = (med(traced.walls) - base) / base
    out["trace.spans"] = len(tracer.spans)
    unknown = set(out) - set(units)
    if unknown:
        raise RuntimeError(f"unlisted per-layer metrics: {sorted(unknown)}")
    return {n: (out[n], u) for n, u in units.items()}


def _query_kinds():
    import workloads
    return [("sparql" if k in workloads.SPARQL else "kg", k)
            for k in workloads.QUERY_KINDS]


# per-layer metric → the span whose median duration it reports
SPAN_METRICS = {
    "pipeline.extract_s": "pipeline.extract",
    "materialize.write_s": "materialize.write",
    "materialize.upsert_s": "materialize.upsert",
    "canonicalize.s": "canonicalize.canonicalize",
    "linking.cc_s": "linking.cc",
    "linking.link_s": "linking.link",
    "sparql.plan_s": "sparql.plan",
}


def per_layer_units() -> dict[str, str]:
    """Name → unit of every per-layer metric, as BENCHMARK.json lists
    them."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer"]}


def _stop(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for the JVM
    to exit (it quits when its stdin closes). Safe to call twice."""
    from pyspark import SparkContext
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def measure(args, work: Path) -> dict:
    _configure(work, bool(args.trace))
    from probe import OFF, RssSampler, Tracer, shuffle_bytes_by_group
    from workloads import WORKLOADS

    with RssSampler() as rss:
        t0 = time.perf_counter()
        spark = _start_session()
        session_s = time.perf_counter() - t0
        try:
            wl = WORKLOADS[args.workload](args.seed, work / "data")
            # input generation repeats (median); the session start, the
            # engine set-up and the warm-up iteration are cold first
            # runs, so each happens once
            setups = []
            for _ in range(SETUP_REPS):
                shutil.rmtree(work / "data", ignore_errors=True)
                t0 = time.perf_counter()
                wl.generate()
                setups.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            wl.prepare(spark)
            prepare_s = time.perf_counter() - t0
            wl.run(spark, OFF)
            warmup_s = time.perf_counter() - t0 - prepare_s
            setup_s = (session_s + statistics.median(setups) + prepare_s
                       + warmup_s)
            wl.make_oracle()
            if not args.trace:
                done = [Loop(wl, spark, OFF, rss)]
                run_loops(done, args.seconds)
            else:
                # alternate untraced and traced iterations, so both see
                # the same warm-up state when the overhead is compared
                tracer = Tracer(spark, on=True)
                done = [Loop(wl, spark, OFF, rss),
                        Loop(wl, spark, tracer, rss)]
                run_loops(done, args.seconds)
                tracer.iteration = "probe"
                probes = wl.probes(spark, tracer)
                tracer.collect_jobs()
        finally:
            _stop(spark)  # also flushes the event log
    if not all(lp.walls for lp in done):
        raise RuntimeError("no iteration completed")
    if args.trace:
        traces = BENCH_DIR / "traces"
        traces.mkdir(exist_ok=True)
        tracer.dump(traces / f"{args.workload}-seed{args.seed}.jsonl")
        metrics = _per_layer(tracer, *done, probes, session_s,
                             shuffle_bytes_by_group(work / "events"))
    else:
        metrics = _end_to_end(setup_s, done[0])

    attempted = sum(lp.attempted for lp in done)
    failed = sum(lp.failed for lp in done)
    ops_ms = done[0].ops_ms
    summary = {"workload": args.workload, "seed": args.seed,
               "walls_s": [[round(w, 3) for w in lp.walls] for lp in done],
               "failed_frac": failed / attempted,
               "queries": len(ops_ms),
               "query_p50_ms": statistics.median(ops_ms) if ops_ms else None,
               "query_p90_ms": _p90(ops_ms) if ops_ms else None,
               "doc_error_frac": done[0].doc_error_frac(),
               "peak_rss_mb": done[0].peak_rss_mb(),
               "stored_bytes_per_triple": done[0].last_layer(
                   "materialize.bytes_per_triple"),
               "digests": {k: v for lp in done for o in lp.outcomes
                           for k, v in o.digests.items()},
               "session_s": round(session_s, 4),
               "setup_reps_s": [round(s, 4) for s in setups],
               "prepare_s": round(prepare_s, 4),
               "warmup_s": round(warmup_s, 4)}
    print("perfbench: " + json.dumps(summary))
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": float(v), "unit": u}
                        for k, (v, u) in metrics.items()}}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    if not (ROOT / "jsonld_spark" / "__init__.py").is_file():
        print(f"perfbench: no jsonld_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path[:0] = [str(ROOT), str(BENCH_DIR)]
    from workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        p.error(f"--workload must be one of {sorted(WORKLOADS)}")
    work = BENCH_DIR / "_work" / f"{args.workload}-{os.getpid()}"
    try:
        result = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            (BENCH_DIR / "_work").rmdir()
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
