"""Benchmark of the workshop3_etl_spark engine.

Run from the root of a checkout of the engine:

    python3 perfbench/run.py --workload relational --seed 1 --seconds 10 --trace 0

A run generates its inputs from ``--seed`` (see ``datagen.py``), builds
the Spark session, runs every operation of the workload once untimed
while checking its output against the DuckDB oracle (or, for the stream
drain, the warehouse invariants), runs untimed warm-up passes until
pass times settle, then repeats timed passes over the workload, each in
a seed-shuffled order and after two runs of a fixed reference job, for
``--seconds`` seconds. Each operation's time is its median over the
timed passes; ``wall_s`` is their sum and ``geomean_query_s`` their
geometric mean. Last, the session is built twice more; ``setup_s`` is
the median of the three builds. All three are scaled by the reference
job's speed (see ``REFERENCE_WALL_S``).

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
traced and untraced passes and reports the per-layer metrics, the
tracing overhead, and writes every span and per-operation counter to
``.perfbench_out/``.

The last line of stdout is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``; the lines above it print the
same metrics for a reader. All scratch files live in
``.perfbench_work/`` under the checkout and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import stats  # noqa: E402
from proctime import tree_cpu_s  # noqa: E402
from workloads import (  # noqa: E402
    DRAIN,
    MESSAGE_KEYS,
    MESSAGES,
    MICROBATCHES,
    WORKLOADS,
    StreamLeg,
)

SETUPS = 3
# Untimed warm-up passes after the output check, at least one, run until
# a pass is no faster than SETTLE_RATIO x the best pass before it. No
# pass starts once the run is WARMUP_DEADLINE_S old, which bounds a
# run's length on a slow host.
SETTLE_RATIO = 0.95
WARMUP_DEADLINE_S = 35
# Timed passes: at least this many, so each operation's median is taken
# over several runs of it.
MIN_PASSES = 4
# The JVM compiles with C1 only. With the default tiered compiler, C2
# keeps compiling Spark's planner and generated code for 40 s and more
# after the first query (pass times fall by a third meanwhile), longer
# than a run can warm up, and the compile threads' CPU lands in the
# measured operations; runs then differ mostly by how far C2 got. C1
# settles within the output check. Times are higher than under a
# default JVM; what the engine does per operation is unchanged.
JVM_OPTIONS = "-XX:TieredStopAtLevel=1"
# The reference job: plain Spark, no engine code, run twice before every
# timed pass. A shared host's speed drifts by a third and more within
# minutes, in wall and in CPU time alike, and the reference slows down
# with the workload. The end-to-end times, set-up included, are scaled to
# a host on which the reference takes REFERENCE_WALL_S (a quiet 4-core
# x86 VM); the raw times are printed beside them, and CPU times are
# scaled the same way by REFERENCE_CPU_S.
REFERENCE_ROWS = 3_000_000
REFERENCE_SQL = "sum(hash(id, id * 7)) AS h"
REFERENCE_RUNS = 2
REFERENCE_WALL_S = 0.30
REFERENCE_CPU_S = 0.90
# The inputs are small; a smaller Spark driver heap than the engine's default
# keeps the benchmark light on hosts whose memory is shared.
DRIVER_MEMORY = "4g"

END_TO_END_UNITS = {"setup_s": "s", "wall_s": "s", "geomean_query_s": "s"}


def _identity(batches):
    yield from batches


def _parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class Bench:
    def __init__(self, args, root: str, work: str):
        self.args = args
        self.root = root
        self.work = work
        self.data_dir = os.path.join(work, "data")
        self.ops = WORKLOADS[args.workload]
        self.cores = len(os.sched_getaffinity(0))
        self.attempted = 0
        self.failed = 0
        self.spark = None
        self.setup_times: list[float] = []
        self._replay_db = None
        self._drain_ok = False
        self._scratch_id = 0
        self.refs: list[tuple[float, float]] = []
        self._t0 = time.perf_counter()

    def _log(self, what: str) -> None:
        print(f"perfbench {time.perf_counter() - self._t0:7.2f}s {what}", file=sys.stderr)

    # ----- environment and session ----------------------------------------

    def _environment(self) -> None:
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp)
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "local")
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cores)
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
        # Python workers import the engine too; they do not inherit
        # this process's sys.path.
        paths = [self.root] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p]
        os.environ["PYTHONPATH"] = os.pathsep.join(paths)
        sys.path.insert(0, self.root)

    def _session(self):
        from workshop3_etl_spark.session import get_spark

        return get_spark(
            app_name="perfbench",
            cpus=self.cores,
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')}"
                    f" {JVM_OPTIONS}",
            },
        )

    def _warm(self, k: int) -> None:
        """Warm the SQL engine, a Python worker and the streaming engine."""
        spark = self.spark
        spark.range(2000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
        spark.range(64).mapInArrow(_identity, "id long").collect()
        src = os.path.join(self.work, "warm")
        if not os.path.isdir(src):
            os.makedirs(src)
            with open(os.path.join(src, "m.txt"), "w") as fh:
                fh.write("warm\n")
        (
            spark.readStream.schema("value string").text(src)
            .writeStream.format("noop")
            .option("checkpointLocation", self._scratch(f"warm{k}"))
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    def _build(self) -> None:
        """(Re)build the session and warm it, and record the time taken.
        The first build also launches the JVM; later ones stop the
        session and build a fresh one in the same JVM."""
        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = self._session()
        self._warm(len(self.setup_times))
        self.setup_times.append(time.perf_counter() - t0)

    def _scratch(self, name: str) -> str:
        self._scratch_id += 1
        return os.path.join(self.work, "scratch", f"{self._scratch_id}-{name}")

    # ----- operations ------------------------------------------------------

    def _frame(self, name: str):
        return self.queries[name](self.spark, self.data_dir)

    def _drain(self) -> str:
        """Drain the topic into a fresh warehouse; returns its path."""
        db = self._scratch("warehouse.sqlite")
        os.makedirs(os.path.dirname(db), exist_ok=True)
        self.leg.drain(db, self._scratch("ckpt"))
        return db

    def _check(self, oracle) -> None:
        """Untimed pass: run every operation once and check its output."""
        import check

        for name in self.ops:
            self.attempted += 1
            try:
                if name == DRAIN:
                    ok = self._check_drain()
                else:
                    sql = self.oracle_sql[name]
                    ok = check.spark_hash(self._frame(name)) == oracle.hash(sql)
            except Exception as exc:  # noqa: BLE001 - any error is a failure
                print(f"error {name}: {exc!r}"[:500], file=sys.stderr)
                ok = False
            if not ok:
                print(f"wrong output: {name}", file=sys.stderr)
                self.failed += 1

    def _check_drain(self) -> bool:
        """Every key lands once and every row is scored. The replay
        check runs in the first warm-up pass (``_replay``)."""
        import check

        db = self._drain()
        rows, unscored = check.warehouse_state(db)
        self._replay_db = db
        self._drain_ok = rows == MESSAGE_KEYS and unscored == 0
        return self._drain_ok

    def _replay(self) -> None:
        """Drain the topic again from fresh offsets into the checked
        warehouse: every message is re-applied, and the warehouse must
        keep one row per key."""
        import check

        db, self._replay_db = self._replay_db, None
        self.leg.drain(db, self._scratch("ckpt-replay"))
        rows, unscored = check.warehouse_state(db)
        if self._drain_ok and not (rows == MESSAGE_KEYS and unscored == 0):
            print(f"wrong output: {DRAIN} replay ({rows} rows)", file=sys.stderr)
            self.failed += 1

    def _run_op(self, name: str, tracer, qid: str) -> tuple[float, float] | None:
        """Run one operation; its (wall, CPU) seconds, or None when it
        failed. A traced operation's CPU time is not measured (0)."""
        self.attempted += 1
        try:
            if tracer is None:
                c0 = tree_cpu_s()
                t0 = time.perf_counter()
                self._untraced(name)
                t1 = time.perf_counter()
                return t1 - t0, tree_cpu_s() - c0
            with tracer.op(qid, name) as spans:
                if name == DRAIN:
                    with spans.span("drain"):
                        self._drain()
                else:
                    with spans.span("query_fn"):
                        df = self._frame(name)
                    tracer.plan_phases(df)
                    with spans.span("action"):
                        df.write.format("noop").mode("overwrite").save()
            return tracer.ops[-1]["wall_s"], 0.0
        except Exception as exc:  # noqa: BLE001 - any error is a failure
            print(f"error {name}: {exc!r}"[:500], file=sys.stderr)
            self.failed += 1
            return None

    def _reference(self) -> tuple[float, float]:
        """Run the reference job once; its (wall, CPU) seconds."""
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        self.spark.range(REFERENCE_ROWS).selectExpr(REFERENCE_SQL).collect()
        t1 = time.perf_counter()
        return t1 - t0, tree_cpu_s() - c0

    def _untraced(self, name: str) -> None:
        if name == DRAIN:
            self._drain()
        else:
            self._frame(name).write.format("noop").mode("overwrite").save()

    # ----- the run -----------------------------------------------------------

    def run(self) -> dict:
        self._environment()
        datagen.write_tables(self.args.seed, self.data_dir)
        if DRAIN in self.ops:
            datagen.write_message_log(
                self.args.seed, os.path.join(self.root, "tests", "fixtures", "happiness"),
                os.path.join(self.work, "topic"), MESSAGES, MESSAGE_KEYS, MICROBATCHES)

        self._log("inputs generated")
        self._build()
        self._log("set up")

        from workshop3_etl_spark.plans import registry

        self.queries = registry.queries()
        self.oracle_sql = registry.oracles()
        if DRAIN in self.ops:
            self.leg = StreamLeg(self.spark, self.root, os.path.join(self.work, "topic"))

        import check

        oracle = check.Oracle(self.data_dir)
        try:
            self._check(oracle)
        finally:
            oracle.close()

        self._log("outputs checked")
        tracer = None
        if self.args.trace:
            from layers import Tracer

            from workshop3_etl_spark.functions import cache
            from workshop3_etl_spark.sources import tables
            from workshop3_etl_spark.streaming import pipeline

            tracer = Tracer(self.spark, {"cache": cache, "tables": tables,
                                         "pipeline": pipeline})

        warm_passes = self._warmup()
        self._log(f"warmed up ({warm_passes} passes)")
        passes = self._measure(tracer)
        self._log(f"measured {len(passes)} passes")
        while len(self.setup_times) < SETUPS:
            self._build()
        self._log("set up again")
        result = self._report(self.setup_times, passes, tracer)
        if tracer is not None:
            out = os.path.join(self.root, ".perfbench_out",
                               f"trace-{self.args.workload}-seed{self.args.seed}.json")
            os.makedirs(os.path.dirname(out), exist_ok=True)
            tracer.dump(out, {"workload": self.args.workload, "seed": self.args.seed,
                              "metrics": result["metrics"]})
            print(f"spans: {out}", file=sys.stderr)
        return result

    def _warmup(self) -> int:
        """Untimed passes until pass times settle (see SETTLE_RATIO);
        returns how many ran."""
        times = []
        while not times or (
            (len(times) < 2 or times[-1] < SETTLE_RATIO * min(times[:-1]))
            and time.perf_counter() - self._t0 < WARMUP_DEADLINE_S
        ):
            t0 = time.perf_counter()
            self._reference()
            for name in self.ops:
                if name == DRAIN and self._replay_db is not None:
                    self._replay()
                else:
                    self._untraced(name)
            times.append(time.perf_counter() - t0)
            shutil.rmtree(os.path.join(self.work, "scratch"), ignore_errors=True)
        return len(times)

    def _measure(self, tracer) -> list[dict]:
        """Timed passes, started until ``--seconds`` have elapsed, at
        least MIN_PASSES. A traced run alternates traced and untraced
        passes, at least one of each."""
        passes = []
        t_start = time.perf_counter()
        min_passes = 2 if tracer is not None else MIN_PASSES
        while (len(passes) < min_passes
               or time.perf_counter() - t_start < self.args.seconds):
            k = len(passes)
            traced = tracer is not None and k % 2 == 0
            order = list(self.ops)
            random.Random(f"{self.args.seed}:{k}").shuffle(order)
            self.refs += [self._reference() for _ in range(REFERENCE_RUNS)]
            if traced:
                tracer.install()
                first_op = len(tracer.ops)
            times, cpu = {}, {}
            for name in order:
                t = self._run_op(name, tracer if traced else None, f"p{k}:{name}")
                if t is not None:
                    times[name], cpu[name] = t
            rec = {"traced": traced, "times": times, "cpu": cpu}
            if traced:
                tracer.close()
                rec["ops"] = tracer.ops[first_op:]
            passes.append(rec)
            shutil.rmtree(os.path.join(self.work, "scratch"), ignore_errors=True)
        return passes

    def _report(self, setup_times, passes, tracer) -> dict:
        plain = [p for p in passes if not p["traced"]]
        wall, geo, per_op = _pass_metrics(plain)
        cpu, _, cpu_per_op = _pass_metrics(plain, "cpu")
        ref_wall = statistics.median(r[0] for r in self.refs)
        ref_cpu = statistics.median(r[1] for r in self.refs)
        wall_scale = REFERENCE_WALL_S / ref_wall
        cpu_scale = REFERENCE_CPU_S / ref_cpu
        drain_s = per_op.get(DRAIN)
        pass_walls = ", ".join(f"{sum(p['times'].values()):.3f}" for p in plain)
        pass_cpus = ", ".join(f"{sum(p['cpu'].values()):.2f}" for p in plain)
        lines = [
            f"workload {self.args.workload} seed {self.args.seed} cores {self.cores}"
            f" passes {len(plain)} operations {len(self.ops)}",
            f"setup_s {statistics.median(setup_times) * wall_scale:.4f} s"
            f" (raw: {', '.join(f'{t:.3f}' for t in setup_times)})",
            f"reference job {ref_wall:.4f} s wall, {ref_cpu:.3f} s CPU"
            f" (scales: wall {wall_scale:.3f}, CPU {cpu_scale:.3f})",
            f"wall_s {wall * wall_scale:.4f} s (raw {wall:.4f} s; passes: {pass_walls})",
            f"geomean_query_s {geo * wall_scale:.4f} s (raw {geo:.4f} s)",
            f"cpu_s {cpu * cpu_scale:.4f} s (raw {cpu:.4f} s; passes: {pass_cpus})",
            f"failed_frac {self.failed / self.attempted:.4f}"
            f" ({self.failed}/{self.attempted})",
        ]
        if drain_s:
            lines.append(f"upsert_rows_per_s {MESSAGES / drain_s:.1f} rows/s")
        lines += [f"  {name} {t:.4f} s, {cpu_per_op[name]:.3f} s CPU"
                  for name, t in sorted(per_op.items())]
        if tracer is None:
            metrics = {
                "setup_s": statistics.median(setup_times) * wall_scale,
                "wall_s": wall * wall_scale,
                "geomean_query_s": geo * wall_scale,
            }
            units = END_TO_END_UNITS
        else:
            metrics = self._layer_metrics(passes, tracer, wall)
            metrics.update({
                "host.cpu_s": cpu * cpu_scale,
                "host.raw_wall_s": wall,
                "host.raw_cpu_s": cpu,
                "host.reference_wall_s": ref_wall,
                "host.reference_cpu_s": ref_cpu,
            })
            units = {k: LAYER_UNITS[k] for k in metrics}
            lines += [f"{k} {v:.6g} {units[k]}" for k, v in metrics.items()]
        print("\n".join(lines))
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }

    def _layer_metrics(self, passes, tracer, untraced_wall) -> dict:
        from layers import pass_totals

        traced = [p for p in passes if p["traced"]]
        totals = [pass_totals(p["ops"], sum(p["times"].values()), tracer.cores)
                  for p in traced]
        out = {k: statistics.median(t[k] for t in totals) for k in totals[0]}
        traced_wall, _, per_op = _pass_metrics(traced)
        drain_s = per_op.get(DRAIN)
        out["streaming.upsert.rows_per_s"] = MESSAGES / drain_s if drain_s else 0.0
        out["trace.wall_s"] = traced_wall
        out["trace.overhead_s"] = traced_wall - untraced_wall
        return out


def _pass_metrics(passes, key: str = "times") -> tuple[float, float, dict]:
    """(sum, geometric mean, per-operation medians) of some passes'
    ``key`` times: each operation's median time over the passes, then
    their sum (the time of one pass) and their geometric mean."""
    names = sorted({n for p in passes for n in p[key]})
    per_op = {
        n: statistics.median(p[key][n] for p in passes if n in p[key])
        for n in names
    }
    if not per_op:
        return 0.0, 0.0, per_op
    return sum(per_op.values()), stats.geomean(per_op.values()), per_op


LAYER_UNITS = {
    "operators.query_fn_s": "s",
    "operators.query_fn_self_s": "s",
    "operators.eager_jobs": "count",
    "operators.action_s": "s",
    "operators.catalyst_plan_s": "s",
    "operators.query_fn_share": "ratio",
    "functions.cache.checkpoint_calls": "count",
    "functions.cache.checkpoint_s": "s",
    "functions.cache.persisted_rdds_after": "count",
    "functions.cache.storage_mem_peak_bytes": "bytes",
    "sources.tables.load_table_calls": "count",
    "sources.tables.scan_parallel_calls": "count",
    "spark.exchange.input_bytes": "bytes",
    "spark.exchange.shuffle_read_bytes": "bytes",
    "spark.exchange.shuffle_write_bytes": "bytes",
    "spark.exchange.spill_bytes": "bytes",
    "operators.arrow.python_run_s": "s",
    "operators.arrow.python_start_s": "s",
    "operators.arrow.bytes_sent": "bytes",
    "operators.arrow.bytes_returned": "bytes",
    "spark.scheduler.jobs": "count",
    "spark.scheduler.stages": "count",
    "spark.scheduler.tasks": "count",
    "spark.scheduler.executor_run_s": "s",
    "spark.scheduler.executor_cpu_s": "s",
    "spark.scheduler.cpu_busy_frac": "ratio",
    "streaming.microbatches": "count",
    "streaming.input_rows": "count",
    "streaming.add_batch_s": "s",
    "streaming.commit_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_memory_bytes": "bytes",
    "streaming.upsert.upsert_s": "s",
    "streaming.upsert.rows_per_s": "rows/s",
    "trace.wall_s": "s",
    "host.cpu_s": "s",
    "host.raw_wall_s": "s",
    "host.raw_cpu_s": "s",
    "host.reference_wall_s": "s",
    "host.reference_cpu_s": "s",
    "trace.overhead_s": "s",
}


def _stop(spark) -> None:
    """Stop the session, its JVM and the JVM's Python workers, and wait."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - a stuck JVM is killed
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = _parse_args(argv)
    root = os.getcwd()
    engine = os.path.join(root, "workshop3_etl_spark", "plans", "registry.py")
    fixtures = os.path.join(root, "tests", "fixtures", "happiness")
    if not (os.path.isfile(engine) and os.path.isdir(fixtures)):
        print("perfbench: run from the root of a workshop3_etl_spark checkout",
              file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work", f"run-{os.getpid()}")
    os.makedirs(work)
    bench = Bench(args, root, work)
    try:
        result = bench.run()
    finally:
        if bench.spark is not None:
            _stop(bench.spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
