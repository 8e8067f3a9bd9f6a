"""Seeded end-to-end benchmark of the spatial estimation engine.

    python3 perfbench/run.py --workload krige_broadcast --seed 1 \\
        --seconds 14 --trace 0

One process, one job at a time (a closed loop with one client), on
``local[N]`` with N the cores this process may run on (what ``nproc``
prints).  Inputs come from ``tools/make_sf.py --seed`` and are kept under
the git-ignored ``.localdata/perfbench/``, where everything the run
writes stays.

A run sets the engine up (``session.get_spark`` plus Python worker
warm-up; an untraced run times a cold set-up and two restarts and
reports their median), runs one untimed warm-up job whose output is
collected and checked and `WARMUP_JOBS` more unmeasured ones, then
repeats the workload's job for ``--seconds`` with the engine's caches
cleared before each and reports medians.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` is the
separate traced run: it adds per-layer probes, alternates untraced jobs
with jobs whose calls into the engine's modules are wrapped in spans,
and prints the per-layer metrics, Spark's executed-plan counters of the
traced jobs, and the tracing overhead.  The last line of standard output
is one JSON object: ``correct``, ``attempted``, ``failed``, ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback
from contextlib import ExitStack
from pathlib import Path

from measure import (QueryLog, Tracer, check_proc_accounting, job_tasks,
                     peak_rss_mb, plan_summary, reset_peak_rss, self_times,
                     tree_cpu_s, tree_pids)

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".localdata" / "perfbench"
# every JVM of a run keeps its temporary files under WORK
JVM_OPTS = f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData"

END_TO_END = {
    "wall_s": "s",
    "items_per_s": "1/s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}
PER_LAYER = {
    "session.get_spark_s": "s",
    "session.warm_s": "s",
    "sources.pages.geocode_s": "s",
    "bucket_index.build_s": "s",
    "neighbors.collect_points_s": "s",
    "neighbors.search_qps": "1/s",
    "neighbors.search_share": "1",
    "operators.kriging.solve_systems_sps": "1/s",
    "neighbors.tiled_pairs_s": "s",
    "neighbors.tiled_shuffle_bytes": "B",
    "neighbors.tiled_res": "level",
    "neighbors.tiled_pass1_certified_ratio": "1",
    "neighbors.tiled_candidate_rows": "count",
    "neighbors.tiled_yield": "1",
    "tiling.ring_table_s": "s",
    "operators.tiled.gather_solve_s": "s",
    "webtext.vecops.bucket_tables_s": "s",
    "webtext.vecops.score_pairs_per_s": "1/s",
    "webtext.similarity.candidate_rows": "count",
    "webtext.similarity.distinct_pairs": "count",
    "webtext.similarity.yield": "1",
    "arrow.bytes_to_python": "B",
    "arrow.bytes_from_python": "B",
    "python.total_s": "s",
    "python.boot_s": "s",
    "exchange.shuffle_bytes": "B",
    "exchange.spill_bytes": "B",
    "spark.tasks": "count",
    "lineage.commit_units_s": "s",
    "lineage.pending_units_s": "s",
    "lineage.recomputed_units": "count",
    "lineage.readback_s": "s",
    "lineage.files_written": "count",
    "lineage.bytes_per_row": "B",
    "resume_s": "s",
    "failed_ratio": "1",
    "trace.overhead_s": "s",
    "trace.unattributed_s": "s",
}
SETUPS = 3          # set-ups per untraced run: the cold one, 2 restarts
WARMUP_JOBS = 1     # noop-sink jobs after the checked warm-up, unmeasured
MIN_JOBS = 2        # timed jobs per kind, however long they take
MAX_FAILED = 3      # stop a run after this many failed jobs
SELFCHECK_TOL = 1e-6


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def confine_environment(cores: int) -> None:
    """Keep every file the run writes under WORK, and give each process
    one BLAS thread: parallelism comes from Spark tasks, and the
    driver-side layer probes measure one core."""
    tmp = WORK / "tmp"
    for d in (tmp, WORK / "spark-local"):
        d.mkdir(parents=True, exist_ok=True)
    os.environ.update({
        "TMPDIR": str(tmp),
        # for the JVM spark-submit runs first to build the driver command
        "SPARK_LAUNCHER_OPTS": JVM_OPTS,
        "SPARK_LOCAL_DIRS": str(WORK / "spark-local"),
        "SPARK_GRAFT_CPUS": str(cores),
        "PYTHONDONTWRITEBYTECODE": "1",
        "OMP_NUM_THREADS": "1",
        "OPENBLAS_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
    })
    sys.dont_write_bytecode = True
    import tempfile

    tempfile.tempdir = str(tmp)


def _warm(spark, cores: int) -> None:
    """Start every Python worker and import what the jobs import."""

    def imports(batches):
        import numpy  # noqa: F401
        import pandas  # noqa: F401

        from geostatssolvers_jl_spark import neighbors  # noqa: F401

        for b in batches:
            yield b[["id"]]

    (spark.range(cores * 4, numPartitions=cores * 2)
     .mapInPandas(imports, "id long")
     .write.format("noop").mode("overwrite").save())


class Engine:
    """The Spark session under test, its query log, and the shutdown of
    the JVM and workers it starts."""

    def __init__(self, cores: int):
        self.cores = cores
        self.spark = None
        self.conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(WORK / "warehouse"),
            "spark.driver.extraJavaOptions": JVM_OPTS,
        }

    def start(self) -> tuple[float, float]:
        """Returns (get_spark seconds, warm-up seconds); keeps the
        warm-up's Python worker boot time, the one job that starts the
        workers, in ``boot_s``."""
        from geostatssolvers_jl_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", master=f"local[{self.cores}]",
                               extra_conf=self.conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        self.qlog = QueryLog(self.spark)
        self.qlog.begin()
        t2 = time.perf_counter()
        _warm(self.spark, self.cores)
        t3 = time.perf_counter()
        nodes = self.qlog.plan_nodes(self.qlog.end())
        self.boot_s = plan_summary(nodes)["python_boot_ms"] / 1e3
        return t1 - t0, t3 - t2

    def restart(self) -> tuple[float, float]:
        self.stop()
        return self.start()

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop Spark, then end the JVM and wait for it."""
        from pyspark import SparkContext

        try:
            self.stop()
        finally:
            gw = SparkContext._gateway
            if gw is not None:
                proc = getattr(gw, "proc", None)
                gw.shutdown()
                SparkContext._gateway = SparkContext._jvm = None
                if proc is not None:
                    # the gateway JVM exits when its stdin closes
                    proc.stdin.close()
                    try:
                        proc.wait(timeout=30)
                    except Exception:
                        proc.kill()
                        proc.wait()


def run_job(engine: Engine, wl, i: int, tracer=None) -> dict:
    """One timed job with a cold engine: caches cleared, executed plans,
    CPU and peak memory of the whole process tree captured."""
    spark = engine.spark
    sc = spark.sparkContext
    spark.catalog.clearCache()
    # a full collection lets the JVM return the previous job's heap
    # growth, so every job's peak memory starts from the same state
    sc._jvm.System.gc()
    group = f"perfbench-{i}"
    sc.setJobGroup(group, f"{wl.name} job {i}")
    engine.qlog.begin()
    with ExitStack() as stack:
        if tracer is not None:
            stack.enter_context(tracer.patched(wl.patch_targets()))
        pids = tree_pids()
        reset_peak_rss(pids)
        c0 = tree_cpu_s(pids)
        t0 = time.perf_counter()
        if tracer is None:
            wl.job()
        else:
            with tracer.span("job"):
                wl.job(tracer.span)
        wall = time.perf_counter() - t0
        pids = tree_pids()
        cpu = tree_cpu_s(pids) - c0
        rss = peak_rss_mb(pids)
    qes = engine.qlog.end()
    return {
        "i": i, "wall": wall, "cpu": cpu, "rss": rss, "qes": qes,
        "tasks": job_tasks(sc, group),
        "trace": tracer.trace if tracer is not None else None,
    }


def median(xs) -> float:
    return float(statistics.median(list(xs)))


def declared_metrics() -> tuple[dict, dict] | None:
    """(end_to_end, per_layer) name -> unit from BENCHMARK.json."""
    path = ROOT / "BENCHMARK.json"
    if not path.is_file():
        return None
    b = json.loads(path.read_text())
    return ({m["name"]: m["unit"] for m in b["end_to_end"]},
            {m["name"]: m["unit"] for m in b["per_layer"]})


class Run:
    """One benchmark run: its counters, its jobs and the problems found."""

    def __init__(self, engine: Engine, wl, trace: bool):
        self.engine, self.wl, self.trace = engine, wl, trace
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.jobs: list[dict] = []

    def warm_up_and_check(self) -> None:
        """The untimed warm-up job, whose collected output is checked."""
        self.attempted += 1
        try:
            self.engine.spark.catalog.clearCache()
            bad = self.wl.check()
        except Exception:
            traceback.print_exc()
            bad = ["warm-up job raised"]
        if bad:
            self.failed += 1
            self.problems += bad

    def _job(self, i: int, tracer=None) -> dict | None:
        self.attempted += 1
        try:
            return run_job(self.engine, self.wl, i, tracer)
        except Exception:
            traceback.print_exc()
            self.failed += 1
            self.problems.append(f"job {i} raised")
            return None

    def loop(self, seconds: float, tracer) -> None:
        """`WARMUP_JOBS` unmeasured jobs, then jobs back to back for
        ``seconds`` (at least MIN_JOBS of each kind); a traced run
        alternates untraced and traced jobs."""
        for i in range(-WARMUP_JOBS, 0):
            self._job(i)
        deadline = time.perf_counter() + seconds
        i = 0
        while self.failed < MAX_FAILED:
            n_traced = len(self.traced())
            n_plain = len(self.jobs) - n_traced
            if (time.perf_counter() >= deadline and n_plain >= MIN_JOBS
                    and (not self.trace or n_traced >= MIN_JOBS)):
                break
            i += 1
            job = self._job(i, tracer if self.trace and i % 2 == 0 else None)
            if job is not None:
                self.jobs.append(job)
            # hold the executed plans of the first and latest untraced
            # job and of every traced job only
            for j in self.plain()[1:-1]:
                j["qes"] = None

    def plain(self) -> list[dict]:
        return [j for j in self.jobs if j["trace"] is None]

    def traced(self) -> list[dict]:
        return [j for j in self.jobs if j["trace"] is not None]

    def check_repetitions(self) -> bool:
        """The first and the latest untraced job must report the same
        output rows on every operator of their executed plans."""
        plain = self.plain()
        if len(plain) < 2:
            return False
        a, b = (plan_summary(self.engine.qlog.plan_nodes(j["qes"]))["rows"]
                for j in (plain[0], plain[-1]))
        if a != b:
            self.problems.append(
                f"plan row counts of job {plain[0]['i']} and job "
                f"{plain[-1]['i']} differ: {a} vs {b}")
        return a == b


def end_to_end(run: Run, setup_s: float) -> dict:
    plain = run.plain()
    w = median(j["wall"] for j in plain)
    return {
        "wall_s": w,
        "items_per_s": run.wl.items() / w,
        "cpu_s": median(j["cpu"] for j in plain),
        "peak_rss_mb": median(j["rss"] for j in plain),
        "setup_s": setup_s,
    }


def per_layer(run: Run, tracer: Tracer, layers: dict) -> dict:
    """Probe results, then medians over the traced jobs of their plan
    counters, then the tracing overhead and the span self-check.  Plan
    counters of layers the workload's job does not load read 0."""
    values = {name: 0.0 for name in PER_LAYER}
    values.update(layers)
    tj = run.traced()
    summaries = []
    for j in tj:
        nodes = run.engine.qlog.plan_nodes(j["qes"])
        s = plan_summary(nodes)
        s.update(run.wl.job_layers(nodes))
        summaries.append(s)
    for key, name, scale in (
        ("bytes_to_python", "arrow.bytes_to_python", 1),
        ("bytes_from_python", "arrow.bytes_from_python", 1),
        ("python_total_ms", "python.total_s", 1e-3),
        ("shuffle_bytes", "exchange.shuffle_bytes", 1),
        ("spill_bytes", "exchange.spill_bytes", 1),
    ):
        values[name] = median(s[key] for s in summaries) * scale
    for name in summaries[0]:
        if name in PER_LAYER:
            values[name] = median(s[name] for s in summaries)
    values["spark.tasks"] = median(j["tasks"] for j in tj)

    values["failed_ratio"] = run.failed / run.attempted
    values["trace.overhead_s"] = (median(j["wall"] for j in tj)
                                  - median(j["wall"] for j in run.plain()))
    unattributed, errors = [], []
    for t in sorted({s.trace for s in tracer.spans}):
        sp = tracer.of_trace(t)
        st = self_times(sp)
        root = next(s for s in sp if s.parent is None)
        errors.append(abs(sum(st.values()) - root.dur))
        if root.name == "job":
            unattributed.append(st[root.sid])
    values["trace.unattributed_s"] = median(unattributed)
    if max(errors) > SELFCHECK_TOL:
        run.problems.append(f"span self times do not add up to their root "
                            f"span (error {max(errors):.3g} s)")
    return values


def span_table(tracer: Tracer, traced_jobs) -> dict:
    """Per span name: median over traced jobs of total and self seconds."""
    per: dict[str, list[tuple[float, float]]] = {}
    for j in traced_jobs:
        sp = tracer.of_trace(j["trace"])
        st = self_times(sp)
        acc: dict[str, list[float]] = {}
        for s in sp:
            a = acc.setdefault(s.name, [0.0, 0.0])
            a[0] += s.dur
            a[1] += st[s.sid]
        for name, (tot, slf) in acc.items():
            per.setdefault(name, []).append((tot, slf))
    return {name: {"total_s": median(t for t, _ in v),
                   "self_s": median(s for _, s in v)}
            for name, v in per.items()}


def main(argv=None) -> int:
    args = parse_args(argv)
    for need in ("geostatssolvers_jl_spark/__init__.py", "tools/make_sf.py"):
        if not (ROOT / need).is_file():
            print(f"perfbench: {need} not found beside perfbench/; run from "
                  "a checkout of the engine", file=sys.stderr)
            return 2
    cores = len(os.sched_getaffinity(0))
    confine_environment(cores)
    sys.path.insert(0, str(ROOT))
    from workloads import WORKLOADS, layer_probes

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    check_proc_accounting()
    phases = {}
    t = time.perf_counter()
    wl = WORKLOADS[args.workload](ROOT, WORK, args.seed, cores)
    phases["inputs_s"] = time.perf_counter() - t

    trace = bool(args.trace)
    engine = Engine(cores)
    tracer = Tracer()
    run = Run(engine, wl, trace)
    try:
        get_spark_s, warm_s = engine.start()
        setups = [get_spark_s + warm_s]
        if not trace:
            setups += [sum(engine.restart()) for _ in range(SETUPS - 1)]
        wl.bind(engine.spark)
        t = time.perf_counter()
        run.warm_up_and_check()
        phases["check_s"] = time.perf_counter() - t
        layers = {}
        if trace:
            t = time.perf_counter()
            engine.spark.catalog.clearCache()
            layers, found = layer_probes(tracer, engine.qlog, engine.spark,
                                         ROOT, WORK, args.seed, cores)
            run.problems += found
            layers["session.get_spark_s"] = get_spark_s
            layers["session.warm_s"] = warm_s
            layers["python.boot_s"] = engine.boot_s
            phases["probes_s"] = time.perf_counter() - t
        t = time.perf_counter()
        run.loop(args.seconds, tracer)
        phases["jobs_s"] = time.perf_counter() - t
        equal_rows = run.check_repetitions()
        if trace:
            values, units = per_layer(run, tracer, layers), PER_LAYER
        else:
            values, units = end_to_end(run, median(setups)), END_TO_END
    finally:
        t = time.perf_counter()
        engine.close()
        phases["close_s"] = time.perf_counter() - t

    declared = declared_metrics()
    if declared is not None and declared[1 if trace else 0] != units:
        run.problems.append("printed metrics differ from BENCHMARK.json")
    detail = {
        "workload": wl.name, "seed": args.seed, "trace": args.trace,
        "master": f"local[{cores}]", "cores": cores,
        "inputs": {"scale": wl.scale, "sha256": wl.inputs["sha256"]},
        "items": wl.items(), "items_are": wl.items_what,
        "setup_s": {"cold_get_spark": get_spark_s, "cold_warm": warm_s,
                    "setups": setups},
        "jobs": len(run.plain()),
        "job_walls_s": [j["wall"] for j in run.plain()],
        "job_cpu_s": [j["cpu"] for j in run.plain()],
        "job_peak_rss_mb": [j["rss"] for j in run.plain()],
        "plan_rows_first_last_equal": equal_rows,
        "phases_s": phases,
        "problems": run.problems,
    }
    if trace:
        detail["spans"] = span_table(tracer, run.traced())
    print(json.dumps({"perfbench": detail}))
    print(json.dumps({
        "correct": not run.problems and run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": values[k], "unit": u}
                    for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
