"""Layered benchmark of spark_sql_perf_spark.

Two closed-loop workloads (one client, one query at a time, one
process, ``local[nproc]``), described in README.md. Run from the
repository root:

    python3 perfbench/run.py --workload llm_pipeline --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 5

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones. The last line of stdout is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the per-sample
detail goes to ``.perfbench-work/results/``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()  # the first set-up is timed from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench-work"
# untimed passes after the output check: a fresh JVM keeps compiling for
# several passes, and timing starts at the same point of that warm-up in
# every run
WARMUP_PASSES = 5
# except that no warm-up pass starts this long after process start, so a
# run on a slow host still fits its share of a budget of 48 runs in
# 3420 s (4 + 22 runs per workload)
WARMUP_DEADLINE_S = 48.0
# timed passes that always run, whatever --seconds says; a traced run
# makes four (T U U T), so it has as many traced passes as untraced ones
MIN_PASSES = 3

# name -> unit; the order is the order of BENCHMARK.json
END_TO_END = {
    "setup_s": "s", "warm_pass_s": "s", "query_gmean_s": "s", "ok_frac": "ratio",
}
PER_LAYER = {
    "session.build_s": "s",
    "datagen.write_s": "s", "datagen.rows": "count", "datagen.bytes": "bytes",
    "operators.construct_s": "s", "operators.py4j_calls": "count",
    "operators.eager_jobs": "count", "operators.eager_job_s": "s",
    "memo.rdds_held": "count", "memo.storage_peak_mb": "MB",
    "plans.analysis_s": "s", "plans.optimization_s": "s",
    "plans.planning_s": "s", "plans.exchanges": "count",
    "plans.joins_broadcast": "count", "plans.joins_shuffled_hash": "count",
    "plans.joins_sort_merge": "count",
    "modes.exec_s": "s", "modes.jobs": "count", "modes.stages": "count",
    "modes.tasks": "count", "modes.executor_run_s": "s",
    "modes.executor_cpu_s": "s", "modes.gc_s": "s",
    "modes.parallelism": "ratio", "modes.task_skew": "ratio",
    "modes.input_mb": "MB", "modes.shuffle_read_mb": "MB",
    "modes.shuffle_write_mb": "MB", "modes.spill_mb": "MB",
    "modes.output_mb": "MB",
    "memo.cleanup_s": "s",
    "trace.layer_share": "ratio", "trace.overhead_frac": "ratio",
}
# per-pass sums of these sample fields give the per-layer metric of the
# same name
_SUMMED = [
    "operators.construct_s", "operators.py4j_calls", "operators.eager_jobs",
    "operators.eager_job_s", "plans.analysis_s", "plans.optimization_s",
    "plans.planning_s", "plans.exchanges", "plans.joins_broadcast",
    "plans.joins_shuffled_hash", "plans.joins_sort_merge", "modes.exec_s",
    "modes.jobs", "modes.stages", "modes.tasks", "modes.executor_run_s",
    "modes.executor_cpu_s", "modes.gc_s", "modes.input_mb",
    "modes.shuffle_read_mb", "modes.shuffle_write_mb", "modes.spill_mb",
    "modes.output_mb", "memo.cleanup_s",
]


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=5.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--smoke", action="store_true",
        help="tiny inputs and the minimum passes (self-test)",
    )
    return p.parse_args(argv)


def _prepare_env(run_dir: Path) -> int:
    """Environment for the JVM and Python workers; returns nproc."""
    nproc = len(os.sched_getaffinity(0))
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    paths = [str(ROOT), str(ROOT / "tests")]
    if os.environ.get("PYTHONPATH"):
        paths.append(os.environ["PYTHONPATH"])
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        # pandas-UDF workers import the package by name; without this
        # they fail with ModuleNotFoundError from any other cwd
        "PYTHONPATH": os.pathsep.join(paths),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # keep every scratch file of Spark, the JVM and Python in the run dir
        "TMPDIR": str(tmp),
        "SPARK_LOCAL_DIRS": str(run_dir / "spark-local"),
        # (UsePerfData off: the JVM would write /tmp/hsperfdata_<user>)
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    sys.path[:0] = [p for p in paths[:2] if p not in sys.path]
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return nproc


def _git_sha() -> str | None:
    if not (ROOT / ".git").exists():
        return None
    out = subprocess.run(
        ["git", "-C", str(ROOT), "rev-parse", "HEAD"],
        capture_output=True, text=True, timeout=30, check=False,
    )
    return out.stdout.strip() or None


def _dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


def _vmhwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(pid: int) -> list[int]:
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    parent[int(entry)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    out, frontier = [], [pid]
    while frontier:
        kids = [c for c, p in parent.items() if p in frontier]
        out += kids
        frontier = kids
    return out


class Bench:
    """One benchmark run: set-up, output check, timed passes, teardown."""

    def __init__(self, args, workload, run_dir: Path, nproc: int) -> None:
        from spark_sql_perf_spark import memo
        from spark_sql_perf_spark.modes import ExecutionMode
        from spark_sql_perf_spark.runner import phase_times

        from workloads import (
            REGISTRY_SF, SMOKE_SF, SMOKE_TPCDS_SCALE, TPCDS_SCALE, tpcds_tables,
        )

        self.args, self.wl, self.run_dir, self.nproc = args, workload, run_dir, nproc
        self.memo, self.phase_times = memo, phase_times
        self.sf = SMOKE_SF if args.smoke else REGISTRY_SF
        self.scale = SMOKE_TPCDS_SCALE if args.smoke else TPCDS_SCALE
        self.tables = tpcds_tables(workload.queries) if workload.source == "tpcds" else []
        self.out_dir = run_dir / "out"
        self.mode = ExecutionMode(
            workload.mode,
            location=str(self.out_dir) if workload.mode == "write_parquet" else None,
        )
        self.spark = None
        self.data_dir: Path | None = None
        self.setup_rec: dict = {}
        self.warmup: list[dict] = []
        self.passes: list[dict] = []

    # -- set-up ------------------------------------------------------------
    def setup(self) -> None:
        """Build the session and prepare the inputs, timed from process
        start: the interpreter, the JVM launch and the first SparkContext
        are part of what a user waits for before the first query."""
        from spark_sql_perf_spark.session import build_session

        tb = time.perf_counter()
        self.spark = build_session()
        rec = {"session.build_s": time.perf_counter() - tb}
        self.data_dir = self.run_dir / "input"
        tg = time.perf_counter()
        if self.wl.source == "registry":
            import inputs

            rows, size = inputs.write(str(self.data_dir), self.sf, self.args.seed)
            rec.update({"datagen.write_s": time.perf_counter() - tg,
                        "datagen.rows": rows, "datagen.bytes": size})
        else:
            from spark_sql_perf_spark.sources.datagen import gen_tpcds, tpcds_rows

            rows = 0
            for t in self.tables:
                path = str(self.data_dir / t)
                gen_tpcds(self.spark, t, self.scale, seed=str(self.args.seed)) \
                    .write.mode("overwrite").parquet(path)
                self.spark.read.parquet(path).createOrReplaceTempView(t)
                rows += tpcds_rows(t, self.scale)
            rec.update({"datagen.write_s": time.perf_counter() - tg,
                        "datagen.rows": rows,
                        "datagen.bytes": _dir_bytes(self.data_dir)})
        rec["setup_s"] = time.perf_counter() - T_PROCESS
        self.setup_rec = rec

    # -- one query ---------------------------------------------------------
    def _build(self, name: str):
        if self.wl.source == "tpcds":
            from spark_sql_perf_spark.operators.tpcds14_suite import TPCDS14_QUERIES

            return self.spark.sql(TPCDS14_QUERIES[name])
        from spark_sql_perf_spark.operators import QUERIES

        return QUERIES[name](self.spark, str(self.data_dir))

    def _cleanup(self) -> None:
        self.memo.evict_all()
        self.spark.catalog.clearCache()

    def sample(self, name: str, group: str, tracer) -> dict:
        """Build, (traced: plan,) consume and clean up one query."""
        from layers import Py4jCounter, plan_digest

        sc = self.spark.sparkContext
        sc.setJobGroup(group, name)
        rec: dict = {"query": name, "group": group}
        t0 = time.perf_counter()
        try:
            if tracer is None:
                df = self._build(name)
                t1 = t2 = time.perf_counter()
            else:
                with Py4jCounter(sc._gateway._gateway_client) as calls:
                    df = self._build(name)
                t1 = time.perf_counter()
                rec["construct_end_ms"] = time.time() * 1e3
                rec["operators.py4j_calls"] = calls.calls
                ph = self.phase_times(df)
                rec.update(plan_digest(df._jdf.queryExecution().executedPlan().toString()))
                t2 = time.perf_counter()
                rec["plans.analysis_s"] = (ph["parsing_time_ms"] + ph["analysis_time_ms"]) / 1e3
                rec["plans.optimization_s"] = ph["optimization_time_ms"] / 1e3
                rec["plans.planning_s"] = ph["planning_time_ms"] / 1e3
            self.mode.consume(df, name)
            t3 = time.perf_counter()
            rec.update(latency_s=t3 - t0, construct_wall_s=t1 - t0,
                       plan_wall_s=t2 - t1, consume_wall_s=t3 - t2)
        except Exception:  # noqa: BLE001 - a failing query is counted, not fatal
            t3 = time.perf_counter()
            rec["error"] = traceback.format_exc(limit=3)[-800:]
        if tracer is not None:
            rec["memo.rdds_before"] = tracer.persistent_rdds()
            rec["memo.storage_mb"] = tracer.storage_mb()
        t4 = time.perf_counter()
        self._cleanup()
        t5 = time.perf_counter()
        rec["memo.cleanup_s"] = t5 - t4
        rec["wall_s"] = (t3 - t0) + (t5 - t4)
        if tracer is not None:
            rec["memo.rdds_held"] = tracer.persistent_rdds()
        return rec

    def _attribute(self, rec: dict, tracer) -> None:
        jobs = tracer.jobs(rec["group"])
        eager = [j for j in jobs if j["submitted_ms"] <= rec["construct_end_ms"]]
        later = [j for j in jobs if j["submitted_ms"] > rec["construct_end_ms"]]
        eager_s = sum(max(0, j["completed_ms"] - j["submitted_ms"]) for j in eager) / 1e3
        rec["operators.eager_jobs"] = len(eager)
        rec["operators.eager_job_s"] = min(eager_s, rec["construct_wall_s"])
        rec["operators.construct_s"] = rec["construct_wall_s"] - rec["operators.eager_job_s"]
        rec["modes.exec_s"] = rec["consume_wall_s"]
        rec["modes.jobs"] = len(later)
        for k, v in tracer.stages(later).items():
            rec[f"modes.{k}"] = v

    # -- passes ------------------------------------------------------------
    def run_pass(self, index: int, traced: bool, tracer) -> dict:
        order = list(self.wl.queries)
        random.Random(f"{self.args.seed}:{index}").shuffle(order)
        t0 = time.perf_counter()
        samples = [
            self.sample(q, f"p{index}-{q}", tracer if traced else None) for q in order
        ]
        wall = time.perf_counter() - t0
        if traced:
            # after the pass's clock stops: the status-store lookups are
            # the tracer's own work, not the program's
            for rec in samples:
                if "error" not in rec:
                    self._attribute(rec, tracer)
        return {"index": index, "traced": traced, "wall_s": wall, "samples": samples}

    def run_passes(self, trace: bool) -> None:
        from layers import StatusProbe

        warmup = 0 if self.args.smoke else WARMUP_PASSES
        while len(self.warmup) < warmup and time.perf_counter() - T_PROCESS < WARMUP_DEADLINE_S:
            self.warmup.append(self.run_pass(len(self.warmup) + 1, False, None))
        tracer = StatusProbe(self.spark) if trace else None
        # a traced run interleaves traced and untraced passes as T U U T,
        # so any warm-up left favours neither side of the overhead
        min_passes = 4 if trace else MIN_PASSES
        start, n = time.perf_counter(), 0
        while n < min_passes or (
            not self.args.smoke and time.perf_counter() - start < self.args.seconds
        ):
            n += 1
            self.passes.append(self.run_pass(
                len(self.warmup) + n, trace and (n - 1) % 4 in (0, 3), tracer))

    # -- after the timed loop -----------------------------------------------
    def peak_rss_mb(self) -> float:
        from pyspark import SparkContext

        pid = SparkContext._gateway.proc.pid
        return sum(_vmhwm_kb(p) for p in [pid, *_descendants(pid)]) / 1024.0

    def _output(self, name: str):
        """One query's result as pandas; a write_parquet workload's result
        is read back from the files the mode wrote."""
        df = self._build(name)
        if self.wl.mode != "write_parquet":
            return df.toPandas()
        import pyarrow.parquet as pq

        self.mode.consume(df, name)
        return pq.read_table(str(self.out_dir / f"{name}.parquet")).to_pandas()

    def check(self) -> dict[str, str | None]:
        """Compare every query's output with DuckDB. Runs before the timed
        passes, so it is also the process's untimed warm-up pass."""
        import check

        if self.wl.source == "tpcds":
            from test_impala_suite import _compare

            from spark_sql_perf_spark.operators.tpcds14_suite import TPCDS14_QUERIES

            return check.run_checks(
                self.wl.queries, self._output, TPCDS14_QUERIES.__getitem__, _compare,
                check.tpcds_views(str(self.data_dir), self.tables), self._cleanup)
        from oracle_check import compare_frames

        from spark_sql_perf_spark.operators import ORACLES

        return check.run_checks(
            self.wl.queries, self._output, ORACLES.__getitem__, compare_frames,
            check.registry_views(str(self.data_dir)), self._cleanup)

    def conf(self) -> dict:
        sc = self.spark.sparkContext
        return {
            "workload": self.wl.name, "seed": self.args.seed,
            "seconds": self.args.seconds, "trace": self.args.trace,
            "smoke": self.args.smoke, "warmup_passes": len(self.warmup),
            "master": sc.master, "nproc": self.nproc,
            "default_parallelism": sc.defaultParallelism,
            "shuffle_partitions": self.spark.conf.get("spark.sql.shuffle.partitions"),
            "spark_version": self.spark.version, "git_sha": _git_sha(),
            "input_scale": self.scale if self.wl.source == "tpcds" else self.sf,
        }

    def shutdown(self) -> None:
        """Stop the session, the py4j gateway and the JVM, and wait for the
        JVM and its Python workers to exit."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        kids = _descendants(proc.pid) if proc is not None else []
        if self.spark is not None:
            self.spark.stop()
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + 20
        for pid in kids:
            while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
                time.sleep(0.05)
            if os.path.exists(f"/proc/{pid}"):
                try:
                    os.kill(pid, 9)
                except ProcessLookupError:
                    pass


# -- metrics -------------------------------------------------------------------

def _ok(samples):
    return [s for s in samples if "error" not in s]


def end_to_end(bench: Bench, failed_queries: set[str]) -> tuple[dict, int, int]:
    per_query: dict[str, list[float]] = {}
    for p in bench.passes:
        for s in _ok(p["samples"]):
            per_query.setdefault(s["query"], []).append(s["latency_s"])
    medians = [statistics.median(v) for v in per_query.values()]
    samples = [s for p in bench.passes for s in p["samples"]]
    attempted = len(samples)
    failed = sum(1 for s in samples if "error" in s or s["query"] in failed_queries)
    values = {
        "setup_s": bench.setup_rec["setup_s"],
        "warm_pass_s": statistics.median(p["wall_s"] for p in bench.passes),
        "query_gmean_s": statistics.geometric_mean(medians) if medians else float("nan"),
        "ok_frac": (attempted - failed) / attempted,
    }
    return values, attempted, failed


def per_layer(bench: Bench) -> dict:
    traced = [p for p in bench.passes if p["traced"]]
    plain = [p for p in bench.passes if not p["traced"]]
    values: dict[str, float] = {}
    for key in ("session.build_s", "datagen.write_s", "datagen.rows", "datagen.bytes"):
        values[key] = bench.setup_rec.get(key, 0)
    per_pass = []
    for p in traced:
        ok = _ok(p["samples"])
        agg = {k: sum(s.get(k, 0) for s in ok) for k in _SUMMED}
        agg["memo.rdds_held"] = max((s["memo.rdds_held"] for s in p["samples"]), default=0)
        agg["memo.storage_peak_mb"] = max(
            (s["memo.storage_mb"] for s in p["samples"]), default=0.0)
        agg["modes.parallelism"] = (
            agg["modes.executor_run_s"] / agg["modes.exec_s"] if agg["modes.exec_s"] else 0.0)
        med = sum(s.get("modes.task_median_s", 0) for s in ok)
        agg["modes.task_skew"] = sum(s.get("modes.task_max_s", 0) for s in ok) / med if med else 0.0
        layers = agg["operators.construct_s"] + agg["operators.eager_job_s"] + sum(
            s["plan_wall_s"] for s in ok) + agg["modes.exec_s"] + agg["memo.cleanup_s"]
        agg["trace.layer_share"] = layers / p["wall_s"]
        per_pass.append(agg)
    for key in PER_LAYER:
        if key not in values and key != "trace.overhead_frac":
            values[key] = statistics.median(a[key] for a in per_pass) if per_pass else 0.0
    if traced and plain:
        values["trace.overhead_frac"] = (
            statistics.median(p["wall_s"] for p in traced)
            / statistics.median(p["wall_s"] for p in plain) - 1.0
        )
    else:
        values["trace.overhead_frac"] = 0.0
    return values


def run_one(args) -> int:
    import workloads

    wl = workloads.WORKLOADS.get(args.workload)
    if wl is None:
        print(f"unknown workload {args.workload!r}; choose from "
              f"{', '.join(workloads.WORKLOADS)} or all", file=sys.stderr)
        return 2
    run_dir = WORK / f"{wl.name}-seed{args.seed}-trace{args.trace}"
    shutil.rmtree(run_dir, ignore_errors=True)
    nproc = _prepare_env(run_dir)
    bench = Bench(args, wl, run_dir, nproc)
    phases = {}
    try:
        bench.setup()
        phases["setup_end_s"] = time.perf_counter() - T_PROCESS
        checks = bench.check()
        phases["check_end_s"] = time.perf_counter() - T_PROCESS
        bench.run_passes(trace=bool(args.trace))
        phases["passes_end_s"] = time.perf_counter() - T_PROCESS
        bench.rss_mb = bench.peak_rss_mb()
        conf = bench.conf()
    finally:
        bench.shutdown()
    phases["shutdown_end_s"] = time.perf_counter() - T_PROCESS
    failed_queries = {q for q, err in checks.items() if err}
    e2e, attempted, failed = end_to_end(bench, failed_queries)
    if args.trace:
        values, units = per_layer(bench), PER_LAYER
    else:
        values, units = e2e, END_TO_END
    detail = {"conf": conf, "setup": bench.setup_rec, "warmup": bench.warmup,
              "passes": bench.passes,
              "checks": checks, "end_to_end": e2e, "phases": phases,
              "peak_rss_mb": bench.rss_mb}
    if args.trace:
        detail["per_layer"] = values
    results = WORK / "results"
    results.mkdir(parents=True, exist_ok=True)
    (results / f"{run_dir.name}.json").write_text(json.dumps(detail, indent=1, default=str))
    shutil.rmtree(run_dir, ignore_errors=True)
    for q, err in sorted(checks.items()):
        if err:
            print(f"output check failed: {q}: {err}")
    print(f"conf: {json.dumps(conf)}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0


def run_all(args) -> int:
    """Every workload in its own fresh process; prints each metric by name."""
    import workloads

    status = 0
    for name in workloads.WORKLOADS:
        cmd = [sys.executable, str(HERE / "run.py"), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)] + (["--smoke"] if args.smoke else [])
        out = subprocess.run(cmd, capture_output=True, text=True, check=False)
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or not lines:
            print(f"{name}: failed (exit {out.returncode})\n{out.stderr[-2000:]}")
            status = 1
            continue
        res = json.loads(lines[-1])
        print(f"{name}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']}")
        for metric, v in res["metrics"].items():
            print(f"  {metric:28s} {v['value']:14.4f} {v['unit']}")
        status |= 0 if res["correct"] else 1
    return status


def main(argv=None) -> int:
    args = _parse(argv)
    if not (ROOT / "spark_sql_perf_spark" / "__init__.py").is_file() or not (
        ROOT / "tests" / "oracle_check.py"
    ).is_file():
        print(f"perfbench: no spark_sql_perf_spark checkout at {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(HERE))
    return run_all(args) if args.workload == "all" else run_one(args)


if __name__ == "__main__":
    sys.exit(main())
