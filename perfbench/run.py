#!/usr/bin/env python3
"""Closed-loop ETL benchmark of the engine's query registry.

One process, one client thread, ``local[<cores>]``. A run starts a session
over the lake in ``perfbench/lake`` (a copy of the engine's sf0.01 test
data) and runs one workload: a cold first pass, an untimed pass that checks
every query's output against its DuckDB oracle (and warms up), then steady
passes for ``--seconds``.
Each query is timed from the call into the registry to the end of a full
materialization of its result into Spark's ``noop`` sink.

    python3 perfbench/run.py --workload sql_etl --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seconds 10   # every workload, traced too

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``; the line before it holds the run's
details (failure share, host noise, cores, driver memory, seed). The peak
RSS covers the steady passes only: it is reset after the check pass. With
``--trace 1`` the metrics are per-layer ones (see ``layers.py``) and a
markdown table of them precedes the JSON.
"""

from __future__ import annotations

import argparse
import glob
import importlib
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
import uuid

T_PROCESS = time.perf_counter()
sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench-work")
LAKE = os.path.join(HERE, "lake")
PACKAGE = "aws_etl_microservice_redshift_datalake_spark"
SETUP_RESTARTS = 1

sys.path[:0] = [HERE, ROOT]
from workloads import END_TO_END, PER_LAYER, UNITS, WORKLOADS  # noqa: E402

# which end-to-end metric each layer's metrics should move
LAYER_TARGETS = [
    ("session", "session", "setup_s (all)"),
    ("registry + construction", "construct",
     "query_geomean_s, first_pass_s (sql_etl); pass_s (corpus_curation)"),
    ("sources.io", "io", "first_pass_s, query_geomean_s (sql_etl)"),
    ("Catalyst", "catalyst", "query_geomean_s (sql_etl)"),
    ("execute", "exec", "pass_s (corpus_curation)"),
    ("_memo / Spark cache", "cache", "pass_s, peak_rss_mb (corpus_curation); none (sql_etl)"),
    ("operator modules", "ops", "pass_s of the workload running the module"),
    ("write path", "write", "write_amp, pass_s (sql_etl)"),
]


def driver_memory() -> str:
    """A quarter of the host's memory, between 1 and 4 GiB."""
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return f"{max(1, min(4, total_kb // (4 << 20)))}g"


def isolate(run_dir: str, cores: int, memory: str, eventlog: str | None) -> None:
    """Point every scratch location at ``run_dir`` and work from there, so a
    run leaves nothing behind and two runs share no scratch."""
    tmp, conf = os.path.join(run_dir, "tmp"), os.path.join(run_dir, "conf")
    for d in (tmp, conf, os.path.join(run_dir, "scratch"), os.path.join(run_dir, "local")):
        os.makedirs(d, exist_ok=True)
    settings = {"spark.ui.showConsoleProgress": "false"}
    if eventlog:
        os.makedirs(eventlog, exist_ok=True)
        settings.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{eventlog}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    with open(os.path.join(conf, "spark-defaults.conf"), "w") as f:
        f.writelines(f"{k} {v}\n" for k, v in settings.items())
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")] + ["PYSPARK_SUBMIT_ARGS"]:
        os.environ.pop(k, None)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": memory,
        "SPARK_GRAFT_SCRATCH": os.path.join(run_dir, "scratch"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "SPARK_CONF_DIR": conf,
        "TMPDIR": tmp,
        # every JVM, the spark-submit launcher too: temp files here, no
        # perf-data files in /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONDONTWRITEBYTECODE": "1",
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    os.chdir(run_dir)


def start_session():
    """Import the package and start its session: the timed set-up."""
    t0 = time.perf_counter()
    pkg = importlib.import_module(PACKAGE)
    t1 = time.perf_counter()
    spark = pkg.get_session("perfbench")
    t2 = time.perf_counter()
    return pkg, spark, t1 - t0, t2 - t1


def restart_setups(pkg, n: int) -> list[float]:
    """Time ``n`` more session starts, each in a fresh JVM: the package is
    already imported, so each is the session start alone."""
    out = []
    for _ in range(n):
        t0 = time.perf_counter()
        spark = pkg.get_session("perfbench")
        out.append(time.perf_counter() - t0)
        stop_session(spark)
    return out


def stop_session(spark) -> None:
    """Stop the session and wait for its JVM to exit; the next session
    then starts a new JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def reset_caches(spark) -> None:
    """Start every pass cold: drop Spark's cached relations and, while the
    engine keeps its own memo, its memoized relations."""
    spark.catalog.clearCache()
    try:
        from aws_etl_microservice_redshift_datalake_spark.operators._memo import clear_session_memos
    except ImportError:
        return
    clear_session_memos(spark)


def materialize(df) -> None:
    """The timed action: compute every row and column of ``df`` and discard
    it. Never ``count()``: Catalyst would prune the projections the query
    computes."""
    df.write.format("noop").mode("overwrite").save()


class Runner:
    def __init__(self, spark, queries: dict, names: list[str], lake: str, seed: int):
        self.spark, self.queries, self.names, self.lake = spark, queries, names, lake
        self.rng = random.Random(seed)
        self.attempted = 0
        self.errors: list[str] = []

    def order(self) -> list[str]:
        names = list(self.names)
        self.rng.shuffle(names)
        return names

    def run_pass(self, tracer=None, pass_no: int = 0) -> tuple[float, dict[str, float]]:
        """One timed pass; returns (wall seconds, per-query latency)."""
        reset_caches(self.spark)
        order = self.order()
        if tracer:
            tracer.begin_pass(pass_no)
        latency: dict[str, float] = {}
        t_pass = time.perf_counter()
        for name in order:
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                if tracer:
                    tracer.begin_query(name)
                df = self.queries[name](self.spark, self.lake)
                if tracer:
                    tracer.begin_action()
                materialize(df)
                latency[name] = time.perf_counter() - t0
                if tracer:
                    tracer.end_query(df)
            except Exception as e:  # a failing query is counted, not fatal
                self.errors.append(f"{name}: {type(e).__name__}: {str(e)[:300]}")
        wall = time.perf_counter() - t_pass
        if tracer:
            tracer.end_pass(wall)
        return wall, latency

    def check_pass(self, oracles: dict) -> None:
        """Untimed: every query once more, its full result collected and
        compared with its oracle."""
        import check

        reset_caches(self.spark)
        for name in self.order():
            self.attempted += 1
            try:
                got = self.queries[name](self.spark, self.lake).toArrow()
            except Exception as e:
                self.errors.append(f"{name} (check): {type(e).__name__}: {str(e)[:300]}")
                continue
            diff = check.compare(got, oracles[name])
            if diff:
                self.errors.append(f"{name}: differs from oracle: {diff[:300]}")


def oracle_results(pkg, lake: str, names: list[str]) -> dict:
    """Every query's oracle result. Results are cached by oracle text and
    lake; missing ones are computed by a child process (``check.py``)."""
    import hashlib

    import pyarrow as pa

    sqls = pkg.all_oracles()
    missing = [n for n in names if n not in sqls]
    if missing:
        raise SystemExit(f"queries without a DuckDB oracle: {missing}")
    lake_id = ",".join(str(os.path.getsize(p)) for p in sorted(glob.glob(os.path.join(lake, "*.parquet"))))
    cache = os.path.join(WORK, "oracle")
    os.makedirs(cache, exist_ok=True)
    paths = {
        n: os.path.join(cache, f"{n}-{hashlib.sha1((lake_id + sqls[n]).encode()).hexdigest()[:16]}.arrow")
        for n in names
    }
    todo = {n: [sqls[n], p] for n, p in paths.items() if not os.path.exists(p)}
    if todo:
        jobs = os.path.join(cache, f"jobs-{uuid.uuid4().hex[:8]}.json")
        with open(jobs, "w") as f:
            json.dump(todo, f)
        try:
            subprocess.run([sys.executable, os.path.join(HERE, "check.py"), lake, jobs], check=True)
        finally:
            os.remove(jobs)
    out = {}
    for name, path in paths.items():
        with pa.memory_map(path) as src:
            out[name] = pa.ipc.open_file(src).read_all()
    return out


def geomean(xs) -> float:
    xs = list(xs)
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def _short(name: str, prefix: str) -> str:
    rest = name[len(prefix):]
    return rest[1:] if rest.startswith(".") else name


def _unit(name: str) -> str:
    unit = UNITS[name]
    return "" if unit in ("count", "ratio") else f" {unit}"


def layer_table(rows: dict[str, dict[str, float]]) -> str:
    """Markdown, one row per layer: its metrics for each workload, the
    end-to-end metric it should move, and a last row with the tracing
    overhead. Operator modules a workload does not run are left out."""
    workloads = list(rows)
    lines = [
        "| layer | " + " | ".join(workloads) + " | moves |",
        "|" + " --- |" * (len(workloads) + 2),
    ]
    for layer, prefix, target in LAYER_TARGETS:
        names = [n for n in PER_LAYER if n.startswith(prefix)]
        cells = []
        for w in workloads:
            vals = [(n, rows[w].get(n, 0.0)) for n in names]
            if prefix == "ops":
                vals = [(n, v) for n, v in vals if v]
            cells.append(", ".join(f"{_short(n, prefix)}={v:.4g}{_unit(n)}" for n, v in vals))
        lines.append(f"| {layer} | " + " | ".join(cells) + f" | {target} |")
    overhead = " | ".join(f"{rows[w].get('trace.overhead_s', 0.0):+.3f} s" for w in workloads)
    lines.append(f"| tracing overhead | {overhead} | traced minus untraced pass_s |")
    return "\n".join(lines)


def run(args) -> dict:
    names = WORKLOADS[args.workload]
    cores = len(os.sched_getaffinity(0))
    memory = driver_memory()
    os.makedirs(WORK, exist_ok=True)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    eventlog = os.path.join(run_dir, "eventlog") if args.trace else None
    isolate(run_dir, cores, memory, eventlog)
    import host

    ticks = host.cpu_ticks()
    spark = None
    try:
        pkg, spark, import_s, start_s = start_session()
        queries = pkg.all_queries()
        missing = [n for n in names if n not in queries]
        if missing:
            raise SystemExit(f"queries missing from the registry: {missing}")
        oracles = oracle_results(pkg, LAKE, names)
        runner = Runner(spark, queries, names, LAKE, args.seed)

        tracer = None
        module_of = {n: queries[n].__module__.rsplit(".", 1)[-1] for n in names}
        # operator modules with no ops.* metric in BENCHMARK.json are named
        # in the detail line rather than dropped silently
        unreported = sorted({m for m in module_of.values() if f"ops.{m}.s" not in UNITS})
        if args.trace:
            import layers

            tracer = layers.Tracer(spark, LAKE, eventlog, module_of)

        first_s, first_lat = runner.run_pass()
        # the JIT is still compiling through the second pass, so the
        # untimed check pass also serves as the warm-up; its write queries
        # overwrite what the first pass wrote, so a stale read shows
        runner.check_pass(oracles)
        # the peak RSS is the steady passes' alone: the first pass and the
        # check pass's collects and compares are left out
        host.reset_tree_peak_rss()
        walls, geos, plain, lats = [], [], [], []
        t_steady = time.perf_counter()
        pass_no = 2
        while True:
            traced = bool(tracer) and pass_no % 2 == 0
            wall, lat = runner.run_pass(tracer if traced else None, pass_no)
            (walls if traced or not tracer else plain).append(wall)
            geos.append(geomean(lat.values()))
            lats += lat.values()
            pass_no += 1
            enough = walls and (plain or not tracer)
            if enough and time.perf_counter() - t_steady >= args.seconds:
                break
        peak_rss = host.tree_peak_rss_mb()
        stop_session(spark)
        spark = None
        starts = [start_s] + ([] if args.trace else restart_setups(pkg, SETUP_RESTARTS))
    finally:
        if spark is not None:
            stop_session(spark)
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)

    failed = len(runner.errors)
    detail = {
        "workload": args.workload, "seed": args.seed, "cores": cores,
        "driver_memory": memory, "unreported_op_modules": unreported,
        "steady_passes_s": walls + plain,
        "failed_frac": {"value": failed / runner.attempted, "unit": "ratio"},
        "setup_samples_s": [import_s + s for s in starts],
        "first_pass_queries_s": {k: round(v, 4) for k, v in first_lat.items()},
        "steady_query_latency": {"samples": len(lats), "p50_s": statistics.median(lats) if lats else None},
        "noise": host.noise(ticks),
        "errors": runner.errors[:20],
        "run_s": time.perf_counter() - T_PROCESS,
    }
    if tracer:
        vals = tracer.result()
        vals["session.import_s"], vals["session.start_s"] = import_s, start_s
        vals["trace.overhead_s"] = statistics.median(walls) - statistics.median(plain)
        metrics = {n: {"value": vals.get(n, 0.0), "unit": UNITS[n]} for n in PER_LAYER}
        print(layer_table({args.workload: vals}))
    else:
        values = {
            "setup_s": import_s + statistics.median(starts),
            "first_pass_s": first_s,
            "pass_s": statistics.median(walls),
            "query_geomean_s": statistics.median(geos),
            "peak_rss_mb": peak_rss,
        }
        metrics = {k: {"value": values[k], "unit": UNITS[k]} for k in END_TO_END}
    print(json.dumps({"detail": detail}))
    return {"correct": failed == 0, "attempted": runner.attempted, "failed": failed, "metrics": metrics}


def run_all(args) -> None:
    """Every workload, untraced then traced, each run in its own process;
    prints one table of the end-to-end metrics and one of the layers."""
    e2e, per_layer = {}, {}
    correct, attempted, failed = True, 0, 0
    for w in WORKLOADS:
        for traced in (0, 1):
            res = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--workload", w, "--seed", str(args.seed),
                 "--seconds", str(args.seconds), "--trace", str(traced)],
                capture_output=True, text=True,
            )
            if res.returncode != 0:
                sys.stderr.write(res.stderr[-4000:])
                raise SystemExit(f"{w} (trace {traced}) failed")
            lines = res.stdout.strip().splitlines()
            out, detail = json.loads(lines[-1]), json.loads(lines[-2])["detail"]
            correct &= out["correct"]
            attempted += out["attempted"]
            failed += out["failed"]
            vals = {k: v["value"] for k, v in out["metrics"].items()}
            if traced:
                per_layer[w] = vals
                e2e[w]["write_amp"] = vals["write_amp"]
            else:
                e2e[w] = dict(vals, failed_frac=detail["failed_frac"]["value"])
    units = {**{k: UNITS[k] for k in END_TO_END}, "failed_frac": "ratio", "write_amp": UNITS["write_amp"]}
    print("| metric | " + " | ".join(e2e) + " |")
    print("|" + " --- |" * (len(e2e) + 1))
    for name, unit in units.items():
        print(f"| {name} ({unit}) | " + " | ".join(f"{e2e[w][name]:.4g}" for w in e2e) + " |")
    print()
    print(layer_table(per_layer))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {w: {k: {"value": v, "unit": units[k]} for k, v in e2e[w].items()} for w in e2e}}))


def main() -> None:
    ap = argparse.ArgumentParser(description="Closed-loop ETL benchmark of the query registry.")
    ap.add_argument("--workload", choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload == "all":
        run_all(args)
    elif args.workload:
        print(json.dumps(run(args)))
    else:
        ap.error("--workload is required")


if __name__ == "__main__":
    main()
