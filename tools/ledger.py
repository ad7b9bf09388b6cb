#!/usr/bin/env python
"""Per-query ledger: wall time, per-layer counters and executed plans.

Runs registry queries through the benchmark's own tracer
(``perfbench/layers.py``) and writes one JSON record per query to
``.perfbench_out/``. Run it from the root of a checkout; the engine is
imported from the working directory and cores come from
``SPARK_GRAFT_CPUS``, as for every other entry point.

    python tools/ledger.py --queries headline --sf DATA/sf0.1
    python tools/ledger.py --queries q1_pricing_summary,q6_forecast_revenue --sf DATA/sf0.1
    python tools/ledger.py --queries all --sf DATA/sf0.01
    python tools/ledger.py --queries headline --sf DATA/sf0.1 --ab ../other-checkout

Per query: one untimed warm-up, then SAMPLES runs whose median wall time
is reported (``bench.py``'s protocol, noop sink), then one traced run.
The traced run gives the tracer's layer counters and the
``physicalPlanDescription`` of every SQL execution it started, eager
checkpoints included, read from the SQL status store; the plan
fingerprint hashes their operator trees with the run-varying operator
and expression ids normalized away.
Persisted frames and temp views a query leaves behind are released
before the next one.

``--ab CHECKOUT`` runs this ledger in CHECKOUT and in this checkout,
PAIRS times, alternating which side goes first, and applies the
benchmark's pair rule (``perfbench/stats.pair_verdict``) to each
query's wall time, CHECKOUT being the parent side.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import re
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(os.path.dirname(HERE), "perfbench"))

from layers import Tracer, _iter  # noqa: E402
from stats import pair_verdict  # noqa: E402

SAMPLES = 5
PAIRS = 10
# The benchmark's bound on wall_s (BENCHMARK.json): a change median worse
# by more than this share of the parent median is a regression.
AB_BOUND = 0.25
# The tracer finds an operation's SQL executions by position in the
# status store, and positions shift once the store starts evicting
# (default: past 1,000 executions). The ledger's session keeps them all.
RETAINED_EXECUTIONS = 1_000_000

# Tokens of an operator tree that differ between runs of one plan.
_RUN_VARYING = [
    (re.compile(r" \(\d+\)"), ""),  # operator ids
    (re.compile(r"#\d+L?"), "#"),  # expression ids
]


def fingerprint(plans: list[str]) -> str:
    """Hash of the executed plans' operator trees. An adaptive plan
    contributes its initial tree: the final one depends on the order in
    which its query stages happened to finish."""
    h = hashlib.sha256()
    for text in plans:
        head = "== Initial Plan ==" if "== Initial Plan ==" in text else "== Physical Plan =="
        tree = text.split(head, 1)[-1].strip("\n").split("\n\n", 1)[0]
        for pattern, repl in _RUN_VARYING:
            tree = pattern.sub(repl, tree)
        h.update(tree.encode())
    return h.hexdigest()[:16]


def _leftovers(spark) -> tuple[set[int], set[str]]:
    rdds = {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}
    return rdds, {t.name for t in spark.catalog.listTables() if t.isTemporary}


def _release(spark, before) -> None:
    """Unpersist the RDDs (persisted frames and checkpoint blocks) and
    drop the temp views that appeared since ``before``."""
    rdds, views = _leftovers(spark)
    persistent = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in rdds - before[0]:
        rdd = persistent.get(rid)
        if rdd is not None:
            rdd.unpersist(True)
    for view in views - before[1]:
        spark.catalog.dropTempView(view)


def _last_execution_id(store) -> int:
    n = store.executionsCount()
    return next(_iter(store.executionsList(n - 1, 1))).executionId() if n else -1


def _traced(spark, tracer, name: str, fn, sf_dir: str) -> tuple[dict, list[str]]:
    """One traced run: the tracer's counters and the executed plans."""
    store = tracer.sql_store
    n0, last0 = store.executionsCount(), _last_execution_id(store)
    retained = int(spark.sparkContext.getConf().get(
        "spark.sql.ui.retainedExecutions", "1000"))
    evicted = RuntimeError(
        f"{name}: the SQL status store holds {retained} executions and evicts"
        " older ones, so the tracer would read the wrong executions; raise"
        " spark.sql.ui.retainedExecutions")
    if n0 >= retained:
        raise evicted
    tracer.install()
    try:
        with tracer.op(name, name) as spans:
            with spans.span("query_fn"):
                df = fn(spark, sf_dir)
            tracer.plan_phases(df)
            with spans.span("action"):
                df.write.format("noop").mode("overwrite").save()
    finally:
        tracer.close()
    n1 = store.executionsCount()
    # execution ids are consecutive, so a shorter list means evictions
    if n1 - n0 != _last_execution_id(store) - last0:
        raise evicted
    plans = [e.physicalPlanDescription() for e in _iter(store.executionsList(n0, n1 - n0))]
    layers = {k: v for k, v in tracer.ops[-1].items() if k not in ("qid", "op")}
    return layers, plans


def record(spark, names: list[str], sf_dir: str) -> list[dict]:
    """One ledger record per query name, in order."""
    from workshop3_etl_spark.functions import cache
    from workshop3_etl_spark.plans import registry
    from workshop3_etl_spark.sources import tables
    from workshop3_etl_spark.streaming import pipeline

    tracer = Tracer(spark, {"cache": cache, "tables": tables, "pipeline": pipeline})
    out = []
    for name in names:
        query = registry.get(name)
        fn = query.fn
        before = _leftovers(spark)
        try:
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            walls = []
            for _ in range(SAMPLES):
                t0 = time.perf_counter()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                walls.append(time.perf_counter() - t0)
            layers, plans = _traced(spark, tracer, name, fn, sf_dir)
            rec = {"query": name, "perf_class": query.perf_class,
                   "wall_s": statistics.median(walls), "samples_s": walls,
                   "plan_fingerprint": fingerprint(plans), "sql_executions": len(plans),
                   "layers": layers, "plans": plans}
        except Exception as exc:  # noqa: BLE001 - recorded, the sweep goes on
            rec = {"query": name, "error": repr(exc)[:1000]}
        finally:
            _release(spark, before)
        print(f"# {name}: " + (f"{rec['wall_s']:.3f}s" if "wall_s" in rec
                               else rec["error"][:200]), file=sys.stderr)
        out.append(rec)
    return out


def _select(spec: str) -> list[str]:
    from workshop3_etl_spark.plans import registry

    queries = registry.queries()
    if spec == "all":
        return list(queries)
    if spec == "headline":
        from bench import HEADLINE

        return [n for n in HEADLINE if n in queries]
    names = spec.split(",")
    unknown = [n for n in names if n not in queries]
    if unknown:
        raise SystemExit(f"ledger: unknown queries: {', '.join(unknown)}")
    return names


def _out_path(root: str, kind: str) -> str:
    out = os.path.join(root, ".perfbench_out",
                       f"{kind}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    return out


def _ledger(names: list[str], sf_dir: str) -> str:
    from workshop3_etl_spark.session import get_spark

    spark = get_spark(app_name="ledger", extra_conf={
        "spark.sql.ui.retainedExecutions": str(RETAINED_EXECUTIONS)})
    t0 = time.perf_counter()
    try:
        records = record(spark, names, sf_dir)
        doc = {"sf_dir": sf_dir, "cores": spark.sparkContext.defaultParallelism,
               "samples": SAMPLES, "run_s": time.perf_counter() - t0, "records": records}
    finally:
        spark.stop()
    out = _out_path(os.getcwd(), "ledger")
    with open(out, "w") as fh:
        json.dump(doc, fh)
    return out


def _ab(other: str, names: list[str], sf_dir: str) -> str:
    sides = {"parent": os.path.abspath(other), "change": os.getcwd()}
    walls = {side: {n: [] for n in names} for side in sides}
    for i in range(PAIRS):
        for side in ("parent", "change") if i % 2 == 0 else ("change", "parent"):
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--queries", ",".join(names),
                 "--sf", sf_dir], cwd=sides[side], capture_output=True, text=True)
            if proc.returncode != 0:
                raise SystemExit(f"ledger in {sides[side]} failed:\n{proc.stderr[-2000:]}")
            with open(proc.stdout.strip().splitlines()[-1]) as fh:
                for rec in json.load(fh)["records"]:
                    if "error" in rec:
                        raise SystemExit(f"{sides[side]}: {rec['query']}: {rec['error']}")
                    walls[side][rec["query"]].append(rec["wall_s"])
        print(f"# pair {i + 1}/{PAIRS} done", file=sys.stderr)
    verdicts = {n: pair_verdict(walls["parent"][n], walls["change"][n], "lower", AB_BOUND)
                for n in names}
    for n, v in verdicts.items():
        print(f"{n:<40} parent {v['parent_median']:.4f}  change {v['change_median']:.4f} s"
              f"  wins {v['wins']}/{v['pairs']}  parent IQR {v['parent_iqr']:.4f}"
              f"  -> {v['verdict']}", file=sys.stderr)
    out = _out_path(os.getcwd(), "ledger-ab")
    with open(out, "w") as fh:
        json.dump({"sf_dir": sf_dir, "sides": sides, "walls": walls,
                   "verdicts": verdicts}, fh)
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--queries", required=True, help="comma-separated names, headline or all")
    p.add_argument("--sf", required=True, help="directory of the input tables")
    p.add_argument("--ab", metavar="CHECKOUT", help="interleave with another checkout")
    args = p.parse_args(argv)
    sys.path.insert(0, os.getcwd())
    names = _select(args.queries)
    out = _ab(args.ab, names, args.sf) if args.ab else _ledger(names, args.sf)
    print(out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
