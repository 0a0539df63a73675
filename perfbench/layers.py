"""Per-layer tracing for one traced pass, from the benchmark's side only.

The tracer wraps the public entry points of each layer while a traced pass
runs and restores them afterwards; the engine's code is not changed:

- ``sources.io``: ``DataFrameReader`` methods (calls, time, and the Spark
  jobs they launch, which are schema-inference jobs).
- write path: ``DataFrameWriter`` methods that write to a path (files and
  bytes written there). ``write_amp`` divides the bytes written by the lake
  bytes read by queries of the write-path modules only, so a change to
  other queries' reads does not move it.
- cache: ``operators._memo.session_memo`` (calls, builds, build time) and
  the Spark storage held at pass end.
- Catalyst: parsing/analysis from the result DataFrame's planning tracker
  and optimization/planning of every query execution, received through a
  ``QueryExecutionListener``.
- execute: task and stage metrics from the event log written since the
  session started. Every job carries a job group ``pb<pass>|<query>|<phase>``
  so it is attributed to a query and to construction, reading or the final
  action.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict

from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

from workloads import WRITE_MODULES

READ_METHODS = ("parquet", "csv", "json", "orc", "text", "load", "table")
WRITE_METHODS = ("save", "parquet", "csv", "json", "orc", "text")
GROUP = "spark.jobGroup.id"
MB = 1 << 20


def _path_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of the data files at ``path`` (a file or a directory
    tree), skipping Spark's ``_SUCCESS``/``.crc`` bookkeeping."""
    if os.path.isfile(path):
        return os.path.getsize(path), 1
    size = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            if not n.startswith(("_", ".")):
                size += os.path.getsize(os.path.join(d, n))
                files += 1
    return size, files


def _paths(args, kwargs) -> list[str]:
    found = [a for a in args if isinstance(a, str)]
    for a in args:
        if isinstance(a, (list, tuple)):
            found += [p for p in a if isinstance(p, str)]
    if isinstance(kwargs.get("path"), str):
        found.append(kwargs["path"])
    return [p[len("file:"):] if p.startswith("file:") else p for p in found]


class _PlanListener:
    """Receives every successful query execution's planning phases."""

    def __init__(self) -> None:
        self.phases: list[dict[str, float]] = []

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java API)
        self.phases.append(_phases(qe.tracker()))

    def onFailure(self, func_name, qe, exception):  # noqa: N802 (Java API)
        self.phases.append(_phases(qe.tracker()))

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def _phases(tracker) -> dict[str, float]:
    out = {}
    it = tracker.phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = float(kv._2().durationMs())
    return out


class Tracer:
    """Collects the per-layer metrics of traced passes; ``result()`` gives
    their median over the passes."""

    def __init__(self, spark, lake: str, eventlog_dir: str, module_of: dict[str, str]):
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark, self.sc = spark, spark.sparkContext
        self.lake = os.path.realpath(lake)
        self.eventlog_dir = eventlog_dir
        self.module_of = module_of
        self.offset = 0
        self.listener = _PlanListener()
        ensure_callback_server_started(self.sc._gateway)
        try:
            from aws_etl_microservice_redshift_datalake_spark.operators import _memo
        except ImportError:
            _memo = None
        self.memo = _memo
        self.passes: list[dict[str, float]] = []

    # -- pass lifecycle -------------------------------------------------
    def begin_pass(self, pass_no: int) -> None:
        self.tag = f"pb{pass_no}|"
        self.m: dict[str, float] = defaultdict(float)
        self.phase = ""
        self.query = ""
        self.persisted_before = self._persisted_ids()
        self.new_persisted: set[int] = set()
        self._saved: list[tuple[object, str, object]] = []
        for name in READ_METHODS:
            self._patch(DataFrameReader, name, self._wrap_read)
        for name in WRITE_METHODS:
            self._patch(DataFrameWriter, name, self._wrap_write)
        if self.memo is not None:
            self._patch(self.memo, "session_memo", self._wrap_memo)
        self.spark._jsparkSession.listenerManager().register(self.listener)

    def end_pass(self, wall_s: float) -> None:
        self.sc.setLocalProperty(GROUP, None)
        self._drain()
        self.spark._jsparkSession.listenerManager().unregister(self.listener)
        for owner, name, orig in reversed(self._saved):
            setattr(owner, name, orig)
        m = self.m
        m["cache.builds"] = float(len(self.new_persisted))
        m["cache.mb"] = sum(
            i.memSize() + i.diskSize() for i in self.sc._jsc.sc().getRDDStorageInfo()
        ) / MB
        self._read_eventlog(m)
        self.passes.append(derive(m, wall_s))

    # -- query lifecycle ------------------------------------------------
    def begin_query(self, query: str) -> None:
        self.query = query
        self._set_phase("construct")
        self.t0 = time.perf_counter()

    def begin_action(self) -> None:
        self.m["construct.s"] += time.perf_counter() - self.t0
        self._set_phase("exec")

    def end_query(self, df) -> None:
        latency = time.perf_counter() - self.t0
        mod = self.module_of[self.query]
        self.m[f"ops.{mod}.s"] += latency
        self._drain()
        for phase, ms in _phases(df._jdf.queryExecution().tracker()).items():
            self.m[f"catalyst.{phase}_ms"] += ms
        for ph in self.listener.phases:
            for phase, ms in ph.items():
                self.m[f"catalyst.{phase}_ms"] += ms
        self.listener.phases.clear()
        self.new_persisted |= self._persisted_ids() - self.persisted_before

    def result(self) -> dict[str, float]:
        """Median over the traced passes of every per-layer metric."""
        keys = {k for p in self.passes for k in p}
        return {k: statistics.median(p.get(k, 0.0) for p in self.passes) for k in sorted(keys)}

    # -- helpers ----------------------------------------------------------
    def _set_phase(self, phase: str) -> None:
        self.phase = phase
        self.sc.setLocalProperty(GROUP, f"{self.tag}{self.query}|{phase}")

    def _drain(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def _persisted_ids(self) -> set[int]:
        return {int(k) for k in self.sc._jsc.getPersistentRDDs().keySet().toArray()}

    def _patch(self, owner, name: str, wrapper) -> None:
        orig = getattr(owner, name)
        self._saved.append((owner, name, orig))
        setattr(owner, name, wrapper(orig))

    def _wrap_read(self, orig):
        tracer = self

        def read(reader, *args, **kwargs):
            if tracer.phase == "io":  # nested reader call
                return orig(reader, *args, **kwargs)
            prev = tracer.phase
            tracer._set_phase("io")
            t = time.perf_counter()
            try:
                return orig(reader, *args, **kwargs)
            finally:
                tracer.m["io.read_s"] += time.perf_counter() - t
                tracer.m["io.read_calls"] += 1
                for p in _paths(args, kwargs):
                    if os.path.realpath(p).startswith(tracer.lake) and os.path.exists(p):
                        mb = _path_bytes(p)[0] / MB
                        tracer.m["io.source_mb"] += mb
                        if tracer.module_of.get(tracer.query) in WRITE_MODULES:
                            tracer.m["_write_source_mb"] += mb
                tracer._set_phase(prev)

        return read

    def _wrap_write(self, orig):
        tracer = self

        def write(writer, *args, **kwargs):
            out = orig(writer, *args, **kwargs)
            for p in _paths(args, kwargs)[:1]:
                if os.path.exists(p):
                    size, files = _path_bytes(p)
                    tracer.m["write.mb"] += size / MB
                    tracer.m["write.files"] += files
            return out

        return write

    def _wrap_memo(self, orig):
        tracer = self

        def session_memo(memo, spark, sf_dir, sig, build):
            def timed_build():
                t = time.perf_counter()
                try:
                    return build()
                finally:
                    tracer.m["_memo_builds"] += 1
                    tracer.m["cache.build_s"] += time.perf_counter() - t

            tracer.m["cache.memo_calls"] += 1
            return orig(memo, spark, sf_dir, sig, timed_build)

        return session_memo

    def _read_eventlog(self, m: dict[str, float]) -> None:
        files = glob.glob(os.path.join(self.eventlog_dir, "*"))
        if not files:
            return
        with open(files[0], "rb") as f:
            f.seek(self.offset)
            data = f.read()
        end = data.rfind(b"\n") + 1
        self.offset += end
        stage_group: dict[int, str] = {}
        for line in data[:end].splitlines():
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get(GROUP) or ""
                if not group.startswith(self.tag):
                    continue
                _, query, phase = group.split("|")
                for sid in ev["Stage IDs"]:
                    stage_group.setdefault(sid, group)
                m["exec.jobs"] += 1
                if phase in ("construct", "io"):
                    m["construct.jobs"] += 1
                if phase == "io":
                    m["io.read_jobs"] += 1
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if info["Stage ID"] in stage_group and info.get("Completion Time"):
                    m["exec.stages"] += 1
                    m["exec.stage_wall_s"] += (info["Completion Time"] - info["Submission Time"]) / 1e3
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"])
                if group is None or "Task Metrics" not in ev:
                    continue
                self._task(m, ev, group.split("|")[1])

    def _task(self, m: dict[str, float], ev: dict, query: str) -> None:
        info, tm = ev["Task Info"], ev["Task Metrics"]
        run_s = tm["Executor Run Time"] / 1e3
        dur = info["Finish Time"] - info["Launch Time"]
        getting = info["Finish Time"] - info["Getting Result Time"] if info.get("Getting Result Time") else 0
        wait = dur - tm["Executor Run Time"] - tm["Executor Deserialize Time"] - tm["Result Serialization Time"] - getting
        sr = tm.get("Shuffle Read Metrics", {})
        m["exec.tasks"] += 1
        m["exec.task_run_s"] += run_s
        m["exec.task_cpu_s"] += tm["Executor CPU Time"] / 1e9
        m["exec.gc_s"] += tm["JVM GC Time"] / 1e3
        m["exec.task_wait_s"] += max(0, wait) / 1e3
        m["exec.shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / MB
        m["exec.shuffle_write_mb"] += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / MB
        m["exec.spill_mb"] += tm["Disk Bytes Spilled"] / MB
        read = tm.get("Input Metrics", {}).get("Bytes Read", 0) / MB
        m["exec.input_mb"] += read
        m["exec.output_mb"] += tm.get("Output Metrics", {}).get("Bytes Written", 0) / MB
        mod = self.module_of.get(query)
        if mod is not None:
            m[f"ops.{mod}.task_run_s"] += run_s
            if mod in WRITE_MODULES:
                m["write.read_mb"] += read


def derive(m: dict[str, float], wall_s: float) -> dict[str, float]:
    """The pass's ratio metrics from its sums; the working sums whose names
    start with ``_`` are dropped."""
    def ratio(a: float, b: float) -> float:
        return a / b if b else 0.0

    m = defaultdict(float, m)
    out = {k: v for k, v in m.items() if not k.startswith("_")}
    out["cache.hit_ratio"] = 1.0 - ratio(m["_memo_builds"], m["cache.memo_calls"]) if m["cache.memo_calls"] else 0.0
    out["construct.share"] = ratio(m["construct.s"], wall_s)
    out["exec.parallelism"] = ratio(m["exec.task_run_s"], m["exec.stage_wall_s"])
    out["write.mean_file_kb"] = ratio(m["write.mb"] * 1024, m["write.files"])
    out["write_amp"] = ratio(m["write.mb"], m["_write_source_mb"])
    out["trace.pass_s"] = wall_s
    return out
