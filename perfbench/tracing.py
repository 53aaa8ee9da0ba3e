"""Per-layer tracing from outside the engine.

Nothing in ``pharmacodi_spark`` is changed. The tracer:

- opens a *span* (name, kind, module, start, end, parent) for each pass,
  operation, registry builder call, final action, io call and eager
  job-triggering pyspark call, keeping them in memory;
- gives every job-carrying span its own Spark job group, so each job lands
  on the innermost open span, and reads the jobs back from the status store
  after the pass (submission/completion times, stages, tasks, executor time,
  shuffle and spill bytes);
- attributes each eager pyspark call (``count``, ``collect``, ``first``,
  ``take``, ``toPandas``, ``localCheckpoint``, writer ``save`` ...) to the
  innermost ``pharmacodi_spark.*`` frame on the Python stack, skipping the
  barrier helper so pins are charged to the module that asked for them.
"""

from __future__ import annotations

import contextlib
import functools
import sys
import time

from py4j.protocol import Py4JJavaError

# eager modules reported by name; anything else under pharmacodi_spark is
# folded into "other"
LAYER_MODULES = [
    "text.clusters", "text.dedup", "text.similarity", "text.selection",
    "operators.graph", "operators.keys", "pipelines.ingest", "io", "plans",
]
PIN_CALLS = ("localCheckpoint", "checkpoint")
_DF_CALLS = (
    "count", "collect", "first", "take", "head", "toPandas", "isEmpty",
    "toLocalIterator", "foreach", "foreachPartition", *PIN_CALLS,
)
_WRITER_CALLS = ("save", "parquet", "json", "csv", "orc", "text", "saveAsTable", "insertInto")
_SKIP_FRAMES = ("pharmacodi_spark.barrier",)


def module_bucket(name: str) -> str:
    mod = name.removeprefix("pharmacodi_spark.")
    if mod == "plans" or mod.startswith("plans."):
        return "plans"
    return mod if mod in LAYER_MODULES else "other"


def _caller_module() -> str | None:
    f = sys._getframe(2)
    while f is not None:
        name = f.f_globals.get("__name__", "")
        if name.startswith("pharmacodi_spark.") and name not in _SKIP_FRAMES:
            return module_bucket(name)
        f = f.f_back
    return None


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.spans: list[dict] = []
        self.active = False
        self._stack: list[dict] = []
        self._next = 0
        self._in_eager = False
        self._exec_depth = 0

    @contextlib.contextmanager
    def span(self, name: str, kind: str, module: str | None = None, jobs: bool = True):
        """Record a span; with ``jobs`` it owns a job group while open."""
        if not self.active:
            yield None
            return
        rec = {
            "id": self._next, "parent": self._stack[-1]["id"] if self._stack else None,
            "name": name, "kind": kind, "module": module,
            "group": f"perfbench-{self._next}" if jobs else None,
        }
        self._next += 1
        prev = None
        if jobs:
            prev = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setLocalProperty("spark.jobGroup.id", rec["group"])
        self._stack.append(rec)
        if kind == "exec":
            self._exec_depth += 1
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            if kind == "exec":
                self._exec_depth -= 1
            self._stack.pop()
            if jobs:
                self.sc.setLocalProperty("spark.jobGroup.id", prev)
            self.spans.append(rec)

    def eager_call(self, call: str, fn, args, kwargs):
        if not self.active or self._in_eager or self._exec_depth or not self._stack:
            return fn(*args, **kwargs)
        module = _caller_module()
        if module is None:
            return fn(*args, **kwargs)
        self._in_eager = True
        try:
            with self.span(call, "eager", module=module):
                return fn(*args, **kwargs)
        finally:
            self._in_eager = False

    # -- status store -------------------------------------------------
    def attach_jobs(self, spans: list[dict]) -> None:
        """Read each span's jobs (and their stages) from the status store."""
        self.jsc.listenerBus().waitUntilEmpty(30000)
        store = self.jsc.statusStore()
        tracker = self.sc.statusTracker()
        stage_cache: dict[int, dict | None] = {}
        for s in spans:
            s["jobs"] = []
            if not s.get("group"):
                continue
            for jid in tracker.getJobIdsForGroup(s["group"]):
                jd = store.job(jid)
                sub, done = jd.submissionTime(), jd.completionTime()
                job = {
                    "id": jid,
                    "start": sub.get().getTime() / 1000 if sub.isDefined() else s["start"],
                    "end": done.get().getTime() / 1000 if done.isDefined() else s["end"],
                    "stages": [],
                }
                ids = jd.stageIds()
                for i in range(ids.size()):
                    sid = ids.apply(i)
                    if sid not in stage_cache:
                        stage_cache[sid] = _stage(store, sid)
                    if stage_cache[sid] is not None:
                        job["stages"].append(stage_cache[sid])
                s["jobs"].append(job)


def _stage(store, sid: int) -> dict | None:
    try:
        sd = store.lastStageAttempt(sid)
    except Py4JJavaError:  # evicted from the store, or never submitted
        return None
    if sd.status().toString() == "SKIPPED":
        return None
    return {
        "tasks": sd.numTasks(),
        "run_s": sd.executorRunTime() / 1e3,
        "cpu_s": sd.executorCpuTime() / 1e9,
        "shuffle_write_bytes": sd.shuffleWriteBytes(),
        "shuffle_read_bytes": sd.shuffleReadBytes(),
        "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
    }


class JvmCounters:
    """Codegen, GC and heap counters read over py4j."""

    def __init__(self, spark):
        self.jvm = spark._jvm
        self.mf = self.jvm.java.lang.management.ManagementFactory

    def snapshot(self) -> dict:
        cg = self.jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        hist = self.jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        gc_ms = sum(g.getCollectionTime() for g in self.mf.getGarbageCollectorMXBeans())
        return {
            "compiles": hist.getCount(),
            "compile_ms": cg.compileTime() / 1e6,
            "gc_s": gc_ms / 1e3,
        }

    def reset_heap_peak(self) -> None:
        for pool in self._heap_pools():
            pool.resetPeakUsage()

    def heap_peak_mb(self) -> float:
        return sum(p.getPeakUsage().getUsed() for p in self._heap_pools()) / 2**20

    def _heap_pools(self):
        return [p for p in self.mf.getMemoryPoolMXBeans() if p.getType().toString() == "Heap memory"]


def catalyst_phases_ms(df) -> dict[str, float]:
    """Analysis, optimization and planning ms of ``df``'s own query plan."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    out = {}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = float(kv._2().durationMs())
    return out


def install(tracer: Tracer) -> None:
    """Route the pyspark job-triggering calls and the engine's io entry
    points through ``tracer``, for the rest of this process."""
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter

    for cls, calls in ((DataFrame, _DF_CALLS), (DataFrameWriter, _WRITER_CALLS)):
        for call in calls:
            if hasattr(cls, call):
                setattr(cls, call, _eager_wrapper(tracer, call, getattr(cls, call)))

    import pharmacodi_spark.io as pio

    for name in ("save", "merge_upsert"):
        orig = getattr(pio, name)
        wrapped = _io_wrapper(tracer, name, orig)
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("pharmacodi_spark") and getattr(mod, name, None) is orig:
                setattr(mod, name, wrapped)


def _eager_wrapper(tracer: Tracer, call: str, fn):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        return tracer.eager_call(call, fn, args, kwargs)

    return wrapper


def _io_wrapper(tracer: Tracer, name: str, fn):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(f"io.{name}", "io", module="io", jobs=False):
            return fn(*args, **kwargs)

    return wrapper
