"""Span tracing around the package's public entry points, plus Spark job,
stage and task metrics read back from the driver's status store.

Spans are recorded from the benchmark's side only: ``Tracer.install``
swaps each named entry point for a wrapper in every ``kartothek_spark``
module that binds it, and ``Tracer.uninstall`` puts the originals back.
Each span tags the Spark jobs it starts (``SparkContext.addJobTag``), so
a job is attributed to the innermost span that was open when it ran.
Spans stay in memory until the run ends.
"""

from __future__ import annotations

import contextlib
import json
import os
import sys
import threading
import time
from collections import defaultdict

# span name -> (module, attribute path) of the wrapped entry point
ENTRY_POINTS = {
    "manifest.load": ("kartothek_spark.core.manifest", "DatasetManifest.load"),
    "manifest.commit": ("kartothek_spark.core.manifest", "DatasetManifest.commit"),
    "read.table": ("kartothek_spark.dataset.read", "read_table"),
    "read.plan": ("kartothek_spark.dataset.read", "dispatch_labels"),
    "index.query": ("kartothek_spark.core.index", "query_index_labels"),
    "index.update": ("kartothek_spark.core.index", "update_index"),
    "index.build": ("kartothek_spark.core.index", "build_index"),
    "write.store": ("kartothek_spark.dataset.write", "store_dataframe_as_dataset"),
    "write.update": ("kartothek_spark.dataset.write", "update_dataset"),
    "dml.delete_rows": ("kartothek_spark.dataset.dml", "delete_rows"),
    "cube.query_plan": ("kartothek_spark.cube.query", "query_cube"),
    "cube.build": ("kartothek_spark.cube.build", "build_cube"),
    "stream.start": ("kartothek_spark.streaming.update", "stream_update_dataset"),
}

# span-name prefix -> layer (package module) for self-time shares
LAYERS = {
    "manifest": "core.manifest",
    "index": "core.index",
    "read": "dataset.read",
    "write": "dataset.write",
    "dml": "dataset.dml",
    "cube": "cube",
    "stream": "streaming",
    "ops": "operators",
    "bench": "benchmark",
}


class Span:
    __slots__ = ("id", "name", "parent", "start", "end", "tag", "info")

    def __init__(self, sid, name, parent, tag):
        self.id, self.name, self.parent, self.tag = sid, name, parent, tag
        self.start = self.end = 0.0
        self.info: dict = {}


class Tracer:
    """Collects spans while ``enabled``; a disabled tracer costs one
    attribute check per wrapped call."""

    def __init__(self, sc):
        self.sc = sc
        self.enabled = False
        self.spans: list[Span] = []
        self._stack = threading.local()
        self._main_stack: list[Span] | None = None  # the first thread to open a span
        self._lock = threading.Lock()
        self._next_id = 0
        self._patched: list[tuple[object, str, object]] = []
        self._observers: dict[str, object] = {}

    # -- spans ---------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        stack = getattr(self._stack, "s", None)
        if stack is None:
            stack = self._stack.s = []
        if self._main_stack is None:
            self._main_stack = stack
        # a span opened on another thread (a streaming batch callback)
        # belongs to whatever the main thread is waiting in
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            self._next_id += 1
            sid = self._next_id
        tag = f"perfbench-span-{sid}"
        sp = Span(sid, name, parent.id if parent else None, tag)
        self.sc.addJobTag(tag)
        stack.append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            self.sc.removeJobTag(tag)
            with self._lock:
                self.spans.append(sp)

    def observe(self, name: str, fn) -> None:
        """``fn(span, args, kwargs, result)`` runs after each call of the
        entry point ``name`` and may record counts in ``span.info``."""
        self._observers[name] = fn

    # -- wrapping ------------------------------------------------------------
    def install(self) -> None:
        """Wrap every entry point in :data:`ENTRY_POINTS`. A name that no
        longer resolves raises: a renamed function must not silently
        report zero time."""
        for name, (modname, attr) in ENTRY_POINTS.items():
            mod = sys.modules.get(modname) or __import__(modname, fromlist=["_"])
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(mod, cls_name)
                raw = cls.__dict__.get(meth)
                if raw is None:
                    raise RuntimeError(f"perfbench: {modname}.{attr} not found")
                is_cm = isinstance(raw, classmethod)
                func = raw.__func__ if is_cm else raw
                wrapped = self._wrap(name, func)
                self._patched.append((cls, meth, raw))
                setattr(cls, meth, classmethod(wrapped) if is_cm else wrapped)
                continue
            func = getattr(mod, attr, None)
            if func is None:
                raise RuntimeError(f"perfbench: {modname}.{attr} not found")
            wrapped = self._wrap(name, func)
            # rebind in every package module that imported the name
            for m in list(sys.modules.values()):
                if getattr(m, "__name__", "").startswith("kartothek_spark") and m.__dict__.get(attr) is func:
                    self._patched.append((m, attr, func))
                    setattr(m, attr, wrapped)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def _wrap(self, name, func):
        tracer = self

        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return func(*args, **kwargs)
            with tracer.span(name) as sp:
                try:
                    result = func(*args, **kwargs)
                except Exception as exc:
                    sp.info["error"] = type(exc).__name__
                    raise
                obs = tracer._observers.get(name)
                if obs is not None:
                    obs(sp, args, kwargs, result)
                return result

        wrapper.__wrapped__ = func
        wrapper.__name__ = getattr(func, "__name__", name)
        return wrapper

    # -- analysis ------------------------------------------------------------
    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the part of each span's
        interval its child spans cover (children may overlap)."""
        children = defaultdict(list)
        for sp in self.spans:
            if sp.parent is not None:
                children[sp.parent].append((sp.start, sp.end))
        out: dict[str, float] = defaultdict(float)
        for sp in self.spans:
            covered = _union_length(children.get(sp.id, []), sp.start, sp.end)
            out[sp.name] += (sp.end - sp.start) - covered
        return out

    def count(self, name: str) -> int:
        return sum(1 for sp in self.spans if sp.name == name)

    def fired(self, requirement: str) -> bool:
        """``"name"``: the span fired. ``"parent>name"``: it fired directly
        inside a ``parent`` span, so a call path that stops reaching a
        wrapped function fails even when another path still calls it."""
        if ">" not in requirement:
            return self.count(requirement) > 0
        parent, name = requirement.split(">")
        names = {sp.id: sp.name for sp in self.spans}
        return any(sp.name == name and names.get(sp.parent) == parent for sp in self.spans)

    def info_sum(self, name: str, key: str) -> float:
        return sum(sp.info.get(key, 0) for sp in self.spans if sp.name == name)


def _union_length(intervals, lo, hi) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        s, e = max(s, lo), min(e, hi)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# -- Spark status store ------------------------------------------------------

class SparkJobs:
    """Job and stage records from the driver's AppStatusStore, which
    stays readable with ``spark.ui.enabled=false``."""

    def __init__(self, sc):
        jvm = sc._jvm
        self._store = sc._jsc.sc().statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_mod = getattr(getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"), "MODULE$")
        self._mapper.registerModule(scala_mod)
        self._empty = jvm.java.util.ArrayList
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)

    def jobs(self) -> list[dict]:
        return json.loads(self._mapper.writeValueAsString(self._store.jobsList(self._empty())))

    def stages(self) -> dict[int, list[dict]]:
        """Stage id -> its attempts that ran (skipped stages did no work)."""
        raw = self._store.stageList(self._empty(), False, False, self._no_quantiles, self._empty())
        out: dict[int, list[dict]] = defaultdict(list)
        for st in json.loads(self._mapper.writeValueAsString(raw)):
            if st["status"] != "SKIPPED":
                out[st["stageId"]].append(st)
        return out


def _epoch_s(v) -> float | None:
    """Jackson renders ``java.util.Date`` as epoch milliseconds."""
    return float(v) / 1000.0 if v is not None else None


def spark_jobs(tracer: Tracer, sj: SparkJobs, t0_wall: float, t1_wall: float) -> list[dict]:
    """One record per Spark job submitted in ``[t0_wall, t1_wall]`` (epoch
    seconds): its interval, summed stage metrics and owning span name —
    the innermost span whose tag the job carries (``None`` if untagged)."""
    by_tag = {sp.tag: sp for sp in tracer.spans}
    by_id = {sp.id: sp for sp in tracer.spans}
    depth: dict[int, int] = {}
    for sp in tracer.spans:
        d, p = 0, sp.parent
        while p is not None and p in by_id:
            d, p = d + 1, by_id[p].parent
        depth[sp.id] = d
    stages = sj.stages()
    out = []
    for j in sj.jobs():
        start = _epoch_s(j.get("submissionTime"))
        if start is None or not t0_wall <= start <= t1_wall:
            continue
        owners = [by_tag[t] for t in j.get("jobTags", []) if t in by_tag]
        rec = {"owner": max(owners, key=lambda sp: depth[sp.id]).name if owners else None,
               "start": start, "end": _epoch_s(j.get("completionTime")),
               "stages": 0, "tasks": 0, "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
               "spill_bytes": 0, "input_bytes": 0, "input_records": 0,
               "executor_cpu_s": 0.0, "executor_run_s": 0.0, "jvm_gc_s": 0.0}
        for sid in j["stageIds"]:
            for st in stages.get(sid, []):
                rec["stages"] += 1
                rec["tasks"] += st["numTasks"]
                rec["shuffle_read_bytes"] += st["shuffleReadBytes"]
                rec["shuffle_write_bytes"] += st["shuffleWriteBytes"]
                rec["spill_bytes"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
                rec["input_bytes"] += st["inputBytes"]
                rec["input_records"] += st["inputRecords"]
                rec["executor_cpu_s"] += st["executorCpuTime"] / 1e9
                rec["executor_run_s"] += st["executorRunTime"] / 1e3
                rec["jvm_gc_s"] += st["jvmGcTime"] / 1e3
        out.append(rec)
    return out


# -- counts recorded at the entry points --------------------------------------

def install_observers(tracer: Tracer) -> None:
    """Counts the wrappers record next to their spans."""
    known_files: dict[tuple[str, str], set] = {}

    def labels(sp, args, kwargs, result):
        manifest = args[1]
        sp.info["offered"] = len(manifest.partitions)
        sp.info["kept"] = len(result)

    def index_written(sp, args, kwargs, result):
        manifest = args[1]
        sp.info["bytes"] = dir_bytes(os.path.join(manifest.root, result))

    def committed(sp, args, kwargs, result):
        manifest = args[0]
        if os.path.exists(manifest.manifest_path):
            sp.info["bytes"] = os.path.getsize(manifest.manifest_path)

    def written(sp, args, kwargs, result):
        key = (result.root, result.dataset_uuid)
        files = set(result.files())
        new = files - known_files.get(key, set())
        known_files[key] = files
        sp.info["files"] = len(new)
        sp.info["bytes"] = sum(os.path.getsize(f) for f in new)

    tracer.observe("read.plan", labels)
    tracer.observe("index.query", labels)
    tracer.observe("index.update", index_written)
    tracer.observe("index.build", index_written)
    tracer.observe("manifest.commit", committed)
    tracer.observe("write.store", written)
    tracer.observe("write.update", written)


PER_LAYER_UNITS = {
    "manifest.load_s": "s", "manifest.load_n": "count", "manifest.commit_s": "s",
    "manifest.commit_n": "count", "manifest.conflicts_n": "count", "manifest.bytes": "B",
    "index.query_s": "s", "index.query_n": "count", "index.query_jobs": "count",
    "index.hit_ratio": "ratio", "index.update_s": "s", "index.update_n": "count",
    "index.bytes_written": "B",
    "read.plan_s": "s", "read.scan_s": "s", "read.files_scanned": "count",
    "read.prune_ratio": "ratio", "read.rows_per_result": "ratio",
    "cube.query_plan_s": "s", "cube.query_exec_s": "s", "cube.build_s": "s",
    "write.update_s": "s", "write.files_written": "count", "write.bytes_written": "B",
    "write.amp": "ratio",
    "dml.delete_rows_s": "s", "dml.files_rewritten": "count",
    "stream.start_s": "s", "stream.batch_s": "s",
    "ops.ingest_s": "s", "ops.clean_s": "s", "ops.dedup_s": "s", "ops.index_sync_s": "s",
    "ops.dsir_s": "s", "ops.shard_s": "s", "ops.clean_keep_ratio": "ratio",
    "ops.dedup_pairs_n": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.job_floor_s": "s", "spark.jobs_per_op": "count",
    "spark.shuffle_read_bytes": "B", "spark.shuffle_write_bytes": "B", "spark.spill_bytes": "B",
    "spark.input_bytes": "B", "spark.executor_cpu_s": "s", "spark.executor_run_s": "s",
    "spark.jvm_gc_s": "s",
    "spark.session_start_s": "s",
    "driver.outside_jobs_s": "s",
    **{f"self_share.{layer}": "ratio" for layer in LAYERS.values()},
    "e2e.op_p75_s": "s", "e2e.read_p50_s": "s", "e2e.read_tail_s": "s", "e2e.reads_per_s": "1/s",
    "e2e.commit_p50_s": "s", "e2e.commit_tail_s": "s", "e2e.corpus_docs_per_s": "docs/s",
    "e2e.failed_ratio": "ratio",
    "trace.overhead_ratio": "ratio", "trace.overhead_s": "s", "trace.spans_n": "count",
}

MUTATIONS = ("write.store", "write.update", "dml.delete_rows")


def layer_metrics(tracer: Tracer, sj: SparkJobs, t0_wall: float, t1_wall: float,
                  wall_s: float, n_ops: int) -> dict:
    """Per-layer metrics of one traced phase."""
    self_s = tracer.self_times()
    m: dict[str, float] = {}
    for name in ("manifest.load", "manifest.commit", "index.query", "index.update"):
        m[f"{name}_s"] = self_s.get(name, 0.0)
        m[f"{name}_n"] = float(tracer.count(name))
    for name in ("read.plan", "read.scan", "cube.query_plan", "cube.query_exec", "write.update",
                 "dml.delete_rows", "stream.start", "stream.batch", "ops.ingest", "ops.clean",
                 "ops.dedup", "ops.index_sync", "ops.dsir", "ops.shard"):
        m[f"{name}_s"] = self_s.get(name, 0.0)
    m["manifest.conflicts_n"] = float(sum(1 for sp in tracer.spans if sp.name == "manifest.commit"
                                          and sp.info.get("error") == "CommitConflict"))
    m["manifest.bytes"] = tracer.info_sum("manifest.commit", "bytes")
    offered = tracer.info_sum("index.query", "offered")
    m["index.hit_ratio"] = tracer.info_sum("index.query", "kept") / offered if offered else 0.0
    m["index.bytes_written"] = (tracer.info_sum("index.update", "bytes")
                                + tracer.info_sum("index.build", "bytes"))
    m["read.files_scanned"] = tracer.info_sum("read.plan", "kept")
    live = tracer.info_sum("read.plan", "offered")
    m["read.prune_ratio"] = m["read.files_scanned"] / live if live else 0.0
    m["write.files_written"] = sum(tracer.info_sum(n, "files") for n in ("write.store", "write.update"))
    m["write.bytes_written"] = sum(tracer.info_sum(n, "bytes") for n in ("write.store", "write.update"))
    by_id = {sp.id: sp for sp in tracer.spans}
    m["dml.files_rewritten"] = float(sum(
        sp.info.get("files", 0) for sp in tracer.spans
        if sp.name == "write.update" and by_id.get(sp.parent) is not None
        and by_id[sp.parent].name.startswith("dml.")))

    # commit latency: each outermost mutation call, until it has committed
    def outermost(sp):
        p = sp.parent
        while p is not None and p in by_id:
            if by_id[p].name in MUTATIONS:
                return False
            p = by_id[p].parent
        return True

    commits = sorted(sp.end - sp.start for sp in tracer.spans if sp.name in MUTATIONS and outermost(sp))
    if commits:
        m["e2e.commit_p50_s"] = commits[len(commits) // 2]
        m["e2e.commit_tail_s"] = commits[-1]

    total_self = sum(self_s.values())
    for name, secs in self_s.items():
        key = f"self_share.{layer_of(name)}"
        m[key] = m.get(key, 0.0) + secs / total_self

    jobs = spark_jobs(tracer, sj, t0_wall, t1_wall)
    for key in ("stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                "input_bytes", "executor_cpu_s", "executor_run_s", "jvm_gc_s"):
        m[f"spark.{key}"] = float(sum(j[key] for j in jobs))
    m["spark.jobs"] = float(len(jobs))
    m["spark.jobs_per_op"] = len(jobs) / max(n_ops, 1)
    done = sorted(j["end"] - j["start"] for j in jobs if j["end"] is not None)
    m["spark.job_floor_s"] = done[len(done) // 2] if done else 0.0
    m["driver.outside_jobs_s"] = wall_s - _union_length(
        [(j["start"], j["end"]) for j in jobs if j["end"] is not None], t0_wall, t1_wall)
    m["index.query_jobs"] = float(sum(1 for j in jobs if j["owner"] == "index.query"))
    scanned = sum(j["input_records"] for j in jobs if j["owner"] == "read.scan")
    returned = tracer.info_sum("read.scan", "rows")
    m["read.rows_per_result"] = scanned / returned if returned else 0.0
    return m


def layer_of(span_name: str) -> str:
    return LAYERS[span_name.split(".", 1)[0]]


def peak_rss_mb(spark) -> float:
    """Peak RSS of this Python driver plus the Spark JVM (VmHWM)."""
    import resource

    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(dirpath, name))
    return total
