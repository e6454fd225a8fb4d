"""Benchmark of the etl_io_spark engine: one workload per invocation.

    python3 perfbench/run.py --workload etl-core --seed 1 --seconds 5 --trace 0

One Python process stages the inputs, starts a ``local[nproc]`` session
through ``etl_io_spark.session.get_spark`` and runs a closed loop: each
operation starts after the previous one returns. One untimed warm-up pass
(counted in ``setup_s``) collects every result for checking; timed passes
follow until ``--seconds`` have passed (at least three), and each metric is
the median over those passes. After the passes the warm-up outputs are
checked against DuckDB, ``sqlite3`` or stated properties.

With ``--trace 1`` one untraced pass settles the run, then traced and
untraced passes alternate as T U U T (at least five passes); the traced
ones record spans (written to ``.perfbench_traces/``) from which the
per-layer metrics are computed, and ``trace.overhead_s`` is the traced
minus the untraced pass time.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the line before it
holds diagnostics (CPU steal over the run, per-pass wall times).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

# the benchmark's own modules, beside this file (sys.path[0])
import check  # noqa: E402
import counters  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SF = 0.01
MIN_PASSES = 3
WORKLOADS = ("etl-core", "northstar", "io")


def _args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def _import_program():
    """The program under test, from the checkout this file sits in.
    Python workers get the same path, so UDFs that import the package
    work whatever the working directory."""
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from etl_io_spark import registry

    return registry


def _session(work: str):
    from etl_io_spark import session

    # every file Spark, Derby, the JVM or Python writes stays inside the
    # run's work directory
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    # The benchmark's flags go after whatever JVM options the program's
    # session defaults carry, so a change there still reaches the JVM.
    # A fixed initial heap and young generation make the JVM's resident
    # memory follow what the work allocates and retains rather than how
    # the collector happened to size the heap in this run: with neither,
    # peak RSS varied by up to 900 MB between identical runs, and with
    # -Xms alone its spread over ten etl-core runs was 0.10 against
    # 0.02-0.04 with both. -XX:-UsePerfData keeps the JVM from writing its
    # hsperfdata file outside the work directory.
    own = (
        f"-Djava.io.tmpdir={work}/tmp -Dderby.system.home={work}/derby "
        "-XX:-UsePerfData -Xms2g -Xmn512m"
    )
    program = getattr(session, "_DEFAULTS", {}).get("spark.driver.extraJavaOptions", "")
    java_opts = f"{program} {own}".strip()
    os.makedirs(f"{work}/tmp")
    spark = session.get_spark(
        "perfbench",
        master=f"local[{len(os.sched_getaffinity(0))}]",
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": java_opts,
            "spark.sql.warehouse.dir": f"{work}/warehouse",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM and the Python workers to end."""
    from pyspark import SparkContext

    started = set(counters.process_tree(os.getpid())) - {os.getpid()}
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None
    left = counters.wait_gone(started, timeout=30)
    if left:
        print(f"processes still running after stop: {sorted(left)}", file=sys.stderr)


class Runner:
    """Runs passes of one workload and keeps what they measured."""

    def __init__(self, workload, spark, data_dir, work, seed, tracer):
        from etl_io_spark import caching, registry

        self.workload = workload
        self.spark = spark
        self.sc = spark.sparkContext
        self.data_dir = data_dir
        self.work = work
        self.rng = random.Random(seed)
        self.tracer = tracer
        self.caching = caching
        self.status = counters.StatusReader(spark)
        self.listener = None
        self.cores = len(os.sched_getaffinity(0))
        self.failures: list[str] = []
        self.attempted = 0
        self.results: dict[str, object] = {}
        if workload == "io":
            self.ops = list(workloads.IO)
            self.io = workloads.IoContext(
                spark=spark,
                catalog=registry._cat(spark, data_dir),
                tsv_path=f"{work}/lineitem.tsv",
                orders_parts=f"{work}/orders_parts",
                stream_dir=f"{work}/stream",
                derby_url=f"jdbc:derby:{work}/derby/bench;create=true",
                tracer=tracer,
            )
        else:
            names = workloads.ETL_CORE if workload == "etl-core" else workloads.NORTHSTAR
            self.ops = list(names)
            self.queries = registry.queries()

    # -- one operation --------------------------------------------------
    def _query(self, name: str, tag: str, collect: bool):
        self.sc.setJobGroup(f"{tag}:construct", name)
        with self.tracer.span("construct") as c:
            df = self.queries[name](self.spark, self.data_dir)
        if c is not None:
            ph = spans.phases(df._jdf.queryExecution())
            if "analysis" in ph:
                self.tracer.add("analysis", *ph["analysis"], parent=c)
        self.sc.setJobGroup(f"{tag}:sink", name)
        with self.tracer.span("sink"):
            if collect:
                return df.columns, [tuple(r) for r in df.collect()]
            df.write.format("noop").mode("overwrite").save()
        return None

    def _io(self, name: str, tag: str, pass_dir: str):
        self.sc.setJobGroup(f"{tag}:sink", name)
        return workloads.IO[name](self.io, os.path.join(pass_dir, name))

    def _attach_catalyst(self, op_span) -> None:
        """Catalyst phases of the query executions the operation ran."""
        self.status.settle()
        for ev in self.listener.take():
            for phase in ("optimization", "planning"):
                if phase in ev:
                    self.tracer.add(phase, *ev[phase], parent=op_span)

    # -- one pass -------------------------------------------------------
    def run_pass(self, index: int, traced: bool, collect: bool) -> dict:
        order = self.ops[:]
        # the warm-up keeps the workload's own order, so the seed does not
        # choose which operation pays the first-call costs in setup_s
        if index > 0:
            self.rng.shuffle(order)
        pass_dir = os.path.join(self.work, "out", f"p{index}")
        self.tracer.enabled = traced
        if traced:
            if self.listener is None:
                self.listener = spans.CatalystListener(self.spark)
            self.listener.register()
        wall = 0.0
        streams: dict[str, list[str]] = {}
        op_times: dict[str, float] = {}
        op_spans: dict[str, dict] = {}
        cpu0 = counters.cpu_sample()
        with self.tracer.span("pass", op=f"pass{index}") as ps:
            for name in order:
                tag = f"p{index}.{name}"
                self.attempted += 1
                with self.tracer.span("op", op=name) as op_span:
                    t0 = time.perf_counter()
                    try:
                        if self.workload == "io":
                            result = self._io(name, tag, pass_dir)
                        else:
                            result = self._query(name, tag, collect)
                        if collect:
                            self.results[name] = result
                    except Exception:  # noqa: BLE001 - record and go on
                        self.failures.append(f"pass {index} {name}")
                        traceback.print_exc(file=sys.stderr)
                    finally:
                        op_times[name] = time.perf_counter() - t0
                        wall += op_times[name]
                        with self.tracer.span("drain") as d:
                            drained = self.caching.drain_persisted()
                        if d is not None:
                            d["attrs"]["drained"] = drained
                if self.workload == "io":
                    streams[name] = self.io.stream_groups[:]
                    self.io.stream_groups.clear()
                if traced:
                    op_spans[name] = op_span
                    self._attach_catalyst(op_span)
        cpu = counters.cpu_sample() - cpu0
        if traced:
            self.listener.unregister()
        self.tracer.enabled = False
        self.status.settle()
        shuffle = 0.0
        for name in order:
            tag = f"p{index}.{name}"
            construct = self.status.group(f"{tag}:construct")
            totals = self.status.group(f"{tag}:sink")
            totals += construct
            for group in streams.get(name, ()):
                totals += self.status.group(group)
            shuffle += totals.shuffle_write_mb
            if traced:
                op_spans[name]["attrs"].update(vars(totals), construct_jobs=construct.jobs)
        if traced:
            ps["attrs"].update(driver_cpu_s=cpu.driver_py, py_worker_cpu_s=cpu.py_workers)
        if not collect:
            shutil.rmtree(pass_dir, ignore_errors=True)
        return {"wall_s": wall, "cpu_s": cpu.total, "shuffle_mb": shuffle, "span": ps,
                "op_s": op_times}


def _check(runner: Runner, workload: str, data_dir: str, work: str) -> list[str]:
    """Problems in the warm-up outputs, found with DuckDB and sqlite3."""
    from etl_io_spark import registry
    from etl_io_spark.catalog import STAR_TABLES

    con = check.connect(data_dir, STAR_TABLES, os.path.join(work, "tmp"))
    problems = []
    if workload == "io":
        for name, info in runner.results.items():
            out = os.path.join(work, "out", "p0", name)
            problems += [f"{name}: {p}" for p in
                         workloads.check_io(name, runner.io, con, out, info)]
    else:
        oracles = registry.oracle_sql()
        for name, (cols, rows) in runner.results.items():
            problems += [f"{name}: {p}" for p in
                         check.oracle(con, oracles[name], cols, rows)]
    con.close()
    return problems


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def main() -> int:
    args = _args()
    try:
        registry = _import_program()
    except ImportError as e:
        print(f"cannot import the program under test: {e}", file=sys.stderr)
        return 2
    t_import = time.perf_counter() - T_START
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    steal0 = counters.steal_s()
    try:
        # staging runs in its own process, so its memory is not counted
        subprocess.run(
            [sys.executable, os.path.join(HERE, "datagen.py"), work, str(SF), str(args.seed)],
            check=True,
        )
        data_dir = os.path.join(work, "data")

        t0 = time.perf_counter()
        spark = _session(work)
        t_session = time.perf_counter() - t0
        t0 = time.perf_counter()
        registry._cat(spark, data_dir)
        t_catalog = time.perf_counter() - t0

        tracer = spans.Tracer()
        runner = Runner(args.workload, spark, data_dir, work, args.seed, tracer)
        warm = runner.run_pass(0, traced=False, collect=True)
        setup_s = t_import + t_session + t_catalog + warm["wall_s"]

        passes = []
        t_timed = time.perf_counter()
        # traced runs settle with one untraced pass, then interleave traced
        # and untraced passes as T U U T, so that the remaining warm-up
        # drift cancels out of the overhead figure
        least = 5 if args.trace else MIN_PASSES
        while len(passes) < least or time.perf_counter() - t_timed < args.seconds:
            traced = bool(args.trace) and len(passes) % 4 in (1, 0) and len(passes) > 0
            passes.append((traced, runner.run_pass(len(passes) + 1, traced, collect=False)))
        peak_rss = counters.peak_rss_mb()
        steal = counters.steal_s() - steal0

        problems = _check(runner, args.workload, data_dir, work)
        for p in problems:
            print(f"CHECK FAILED {p}", file=sys.stderr)
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    plain = [p for t, p in passes if not t]
    med = lambda key, ps=plain: statistics.median(p[key] for p in ps)  # noqa: E731
    if args.trace:
        traced_passes = [p for t, p in passes if t]
        layers = [spans.pass_layers(tracer.spans, p["span"], runner.cores)
                  for p in traced_passes]
        metrics = {
            k: _metric(statistics.median(lay[k] for lay in layers), _unit(k))
            for k in layers[0]
        }
        metrics["session.start_s"] = _metric(t_session, "s")
        metrics["catalog.build_s"] = _metric(t_catalog, "s")
        metrics["setup.warmup_s"] = _metric(warm["wall_s"], "s")
        settled = [p for t, p in passes[1:] if not t]
        metrics["trace.overhead_s"] = _metric(
            med("wall_s", traced_passes) - med("wall_s", settled), "s")
        os.makedirs(os.path.join(ROOT, ".perfbench_traces"), exist_ok=True)
        tracer.write(os.path.join(
            ROOT, ".perfbench_traces", f"{args.workload}-seed{args.seed}.json"))
    else:
        metrics = {
            "query_s": _metric(med("wall_s"), "s"),
            "cpu_s": _metric(med("cpu_s"), "s"),
            "shuffle_mb": _metric(med("shuffle_mb"), "MB"),
            "peak_rss_mb": _metric(peak_rss, "MB"),
            "setup_s": _metric(setup_s, "s"),
        }
    print(json.dumps({"diagnostics": {
        "workload": args.workload,
        "seed": args.seed,
        "steal_s": round(steal, 3),
        "pass_wall_s": [round(p["wall_s"], 4) for _, p in passes],
        "pass_op_s": [{k: round(v, 3) for k, v in p["op_s"].items()} for _, p in passes],
        "pass_traced": [t for t, _ in passes],
        "setup_parts_s": {"import": round(t_import, 3), "session": round(t_session, 3),
                          "catalog": round(t_catalog, 3), "warmup": round(warm["wall_s"], 3)},
        "warmup_op_s": {k: round(v, 3) for k, v in warm["op_s"].items()},
        "failures": runner.failures,
        "check_problems": problems[:20],
    }}))
    print(json.dumps({
        "correct": not problems,
        "attempted": runner.attempted,
        "failed": len(runner.failures),
        "metrics": metrics,
    }))
    return 0


def _unit(name: str) -> str:
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("core_util"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
