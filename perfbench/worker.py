"""One benchmark process: boots the engine's session, runs one workload's
timed passes, checks every output outside the timed passes, and writes a
result JSON. Started by ``run.py``; prints ``PERFBENCH READY`` on stdout as
soon as the session is up and the query registry is imported (the set-up
mark). With ``--setup-only`` it stops right after that mark."""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import statistics
import sys
import time
import traceback
from pathlib import Path

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from measure import result_digest, self_times, union_length  # noqa: E402

# the three pipeline compositions plus the combine-phase operators (surrogate
# keys, FK remap, union+dedup, reshape, update-join, harmonize); kept to ten
# so a run fits its time budget (see NOTES.md)
ETL_QUERIES = [
    "combine_pipeline", "meta_pipeline", "synonym_pipeline",
    "surrogate_key_fact", "fk_remap_dense", "experiment_join",
    "union_dedup", "melt_unpivot", "update_join_coalesce",
    "harmonize_contract",
]
# after its minimum passes, a run starts no pass that would end past this
DEADLINE_S = 120.0


def boot(work: Path):
    from pharmacodi_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            # -XX:-UsePerfData: no hsperfdata file under the system /tmp
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={work / 'tmp'} -Dderby.system.home={work / 'derby'} -XX:-UsePerfData",
        },
    )
    import pharmacodi_spark.plans  # noqa: F401  (the query registry)

    return spark


def _dir_files(path: Path) -> dict[str, int]:
    if not path.exists():
        return {}
    return {str(p): p.stat().st_size for p in path.rglob("*") if p.is_file() and p.name[0] not in "._"}


class Workload:
    def __init__(self, spark, work: Path, tracer):
        self.spark = spark
        self.work = work
        self.tracer = tracer
        self.final_plans: list = []  # DataFrames whose Catalyst phases are traced

    def _span(self, name, kind, **kw):
        return self.tracer.span(name, kind, **kw) if self.tracer else contextlib.nullcontext()


class EtlBuild(Workload):
    """The paper's three phases: every query's result is built through the
    registry and written as a final table with ``io.save``."""

    def __init__(self, spark, work, tracer, inputs: Path):
        super().__init__(spark, work, tracer)
        from pharmacodi_spark import io
        from pharmacodi_spark.plans import QUERIES

        self.io, self.queries = io, QUERIES
        self.inputs = str(inputs)

    def out_dir(self, p: int) -> Path:
        return self.work / "out" / f"p{p}"

    def run_pass(self, p: int) -> list[tuple[str, float, bool]]:
        ops = []
        self.final_plans = []
        for name in ETL_QUERIES:
            t0 = time.perf_counter()
            ok = True
            with self._span(name, "op", jobs=False):
                try:
                    with self._span(name, "build"):
                        df = self.queries[name][0](self.spark, self.inputs)
                    with self._span(name, "exec"):
                        self.io.save(df, str(self.out_dir(p) / name))
                    self.final_plans.append(df)
                except Exception:  # counted as a failed operation
                    print(f"perfbench: {name} pass {p} failed", file=sys.stderr)
                    traceback.print_exc()
                    ok = False
            ops.append((name, time.perf_counter() - t0, ok))
        return ops

    def check(self, ops_by_pass: dict[int, list]) -> tuple[int, None]:
        """Build or write failures only: run.py reads back and checks the
        written tables once this process (and its JVM) has exited."""
        return sum(1 for ops in ops_by_pass.values() for _, _, ok in ops if not ok), None

    def bytes_in(self) -> int:
        return sum(_dir_files(Path(self.inputs)).values())

    def written(self, p: int) -> tuple[int, int]:
        files = _dir_files(self.out_dir(p))
        return sum(files.values()), len(files)

    def survivor_ratio(self, p: int) -> float:
        return 0.0


class IncrementalIngest(Workload):
    """Documents fed as micro-batches to ``ingest_batch`` against on-disk
    state; each pass starts from empty state."""

    def __init__(self, spark, work, tracer, batches: list[str]):
        super().__init__(spark, work, tracer)
        from pharmacodi_spark.pipelines import ingest

        self.ingest = ingest
        self.batches = batches
        self._written: dict[int, tuple[int, int]] = {}

    def state(self, p: int) -> Path:
        return self.work / "state" / f"p{p}"

    def run_pass(self, p: int) -> list[tuple[str, float, bool]]:
        ops = []
        self._written[p] = (0, 0)
        files: dict[str, int] = {}
        for i, path in enumerate(self.batches):
            t0 = time.perf_counter()
            ok = True
            with self._span(f"batch{i}", "batch"):
                try:
                    new = self.spark.read.parquet(path)
                    self.ingest.ingest_batch(self.spark, str(self.state(p)), new)
                except Exception:  # counted as a failed operation
                    print(f"perfbench: batch {i} pass {p} failed", file=sys.stderr)
                    traceback.print_exc()
                    ok = False
            ops.append((f"batch{i}", time.perf_counter() - t0, ok))
            if self.tracer:
                now = _dir_files(self.state(p))
                new = [v for k, v in now.items() if k not in files]
                b, n = self._written[p]
                self._written[p] = (b + sum(new), n + len(new))
                files = now
        return ops

    def corpus_digest(self, p: int) -> tuple[str, bool]:
        """Digest of the final corpus, and whether its content hashes are
        unique (exact dedup held across batches)."""
        df = self.spark.read.parquet(str(self.state(p) / "corpus"))
        rows = df.collect()
        texts = [r["text"] for r in rows]
        unique = len({hashlib.md5(t.encode()).hexdigest() for t in texts}) == len(texts)
        return result_digest(df.columns, rows), unique and len(rows) > 0

    def check(self, ops_by_pass: dict[int, list]) -> tuple[int, str | None]:
        """Every pass must leave a corpus with unique content hashes, and all
        passes the same corpus; a failed check fails all of a pass's batches."""
        failed = 0
        digests = set()
        for p in ops_by_pass:
            try:
                digest, unique = self.corpus_digest(p)
                digests.add(digest)
            except Exception:  # counted against the pass
                print(f"perfbench: corpus read-back of pass {p} failed", file=sys.stderr)
                traceback.print_exc()
                unique = False
            bad = not unique or len(digests) > 1
            if bad:
                print(f"perfbench: ingest pass {p} corpus check failed", file=sys.stderr)
            failed += sum(1 for _, _, ok in ops_by_pass[p] if bad or not ok)
        return failed, (digests.pop() if len(digests) == 1 else None)

    def bytes_in(self) -> int:
        return sum(os.path.getsize(b) for b in self.batches)

    def written(self, p: int) -> tuple[int, int]:
        return self._written[p]

    def survivor_ratio(self, p: int) -> float:
        kept = self.spark.read.parquet(str(self.state(p) / "corpus")).count()
        return kept / self.spark.read.parquet(*self.batches).count()


def layer_metrics(spans: list[dict], wall: float, jvm_delta: dict, heap_mb: float) -> dict:
    """Per-layer figures of one traced pass."""
    by_id = {s["id"]: s for s in spans}

    def inclusive(root_kind):
        roots = [s for s in spans if s["kind"] == root_kind]
        members = {s["id"] for s in roots}
        changed = True
        while changed:
            changed = False
            for s in spans:
                if s["id"] not in members and s["parent"] in members:
                    members.add(s["id"])
                    changed = True
        return roots, [by_id[i] for i in members]

    def job_stats(group_spans):
        jobs = [j for s in group_spans for j in s["jobs"]]
        stages = [st for j in jobs for st in j["stages"]]
        return jobs, stages

    m: dict[str, float] = {}
    selfs = self_times(spans)
    build_roots, build_all = inclusive("build")
    jobs, stages = job_stats(build_all)
    m["plans.build_s"] = sum(s["end"] - s["start"] for s in build_roots)
    m["plans.build_self_s"] = sum(selfs[s["id"]] for s in build_roots)
    m["plans.build_jobs"] = len(jobs)
    m["plans.build_tasks"] = sum(st["tasks"] for st in stages)
    m["plans.build_executor_s"] = sum(st["run_s"] for st in stages)

    all_jobs = [j for s in spans for j in s["jobs"]]
    m["driver.gap_s"] = wall - union_length([(j["start"], j["end"]) for j in all_jobs])

    eager = [s for s in spans if s["kind"] == "eager"]
    from tracing import LAYER_MODULES, PIN_CALLS

    pins = [s for s in eager if s["name"] in PIN_CALLS]
    m["barrier.pins"] = len(pins)
    m["barrier.pin_s"] = sum(s["end"] - s["start"] for s in pins)

    for mod in [*LAYER_MODULES, "other"]:
        mine = [s for s in eager if s["module"] == mod]
        m[f"eager.{mod}.calls"] = len(mine)
        m[f"eager.{mod}.jobs"] = sum(len(s["jobs"]) for s in mine)
        m[f"eager.{mod}.s"] = sum(s["end"] - s["start"] for s in mine)

    exec_roots, exec_all = inclusive("exec")
    jobs, stages = job_stats(exec_all)
    m["exec.s"] = sum(s["end"] - s["start"] for s in exec_roots)
    m["exec.jobs"] = len(jobs)
    m["exec.stages"] = len(stages)
    m["exec.tasks"] = sum(st["tasks"] for st in stages)
    m["exec.executor_run_s"] = sum(st["run_s"] for st in stages)
    m["exec.executor_cpu_s"] = sum(st["cpu_s"] for st in stages)
    for k in ("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
        m[f"exec.{k}"] = sum(st[k] for st in stages)

    for name in ("save", "merge_upsert"):
        m[f"io.{name}_s"] = sum(s["end"] - s["start"] for s in spans if s["name"] == f"io.{name}")

    batches = [s for s in spans if s["kind"] == "batch"]
    if batches:
        _, batch_all = inclusive("batch")
        per_batch = {b["id"]: 0 for b in batches}
        for s in batch_all:
            root = s
            while root["kind"] != "batch":
                root = by_id[root["parent"]]
            per_batch[root["id"]] += len(s["jobs"])
        m["ingest.batch_s"] = statistics.median(s["end"] - s["start"] for s in batches)
        m["ingest.jobs_per_batch"] = statistics.median(per_batch.values())
    else:
        m["ingest.batch_s"] = m["ingest.jobs_per_batch"] = 0.0

    m["codegen.compiles"] = jvm_delta["compiles"]
    m["codegen.compile_ms"] = jvm_delta["compile_ms"]
    m["jvm.gc_s"] = jvm_delta["gc_s"]
    m["jvm.heap_peak_mb"] = heap_mb
    return m


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--work", required=True)
    ap.add_argument("--setup-only", action="store_true")
    ap.add_argument("--workload")
    ap.add_argument("--inputs")
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--result")
    args = ap.parse_args()
    started = time.perf_counter()
    work = Path(args.work)

    t0 = time.perf_counter()
    spark = boot(work)
    boot_s = time.perf_counter() - t0
    print("PERFBENCH READY", flush=True)
    if args.setup_only:
        os._exit(0)  # run.py stops the JVM left behind

    tracer = jvm = None
    if args.trace:
        import tracing

        tracer = tracing.Tracer(spark)
        tracing.install(tracer)
        jvm = tracing.JvmCounters(spark)

    if args.workload == "etl_build":
        wl = EtlBuild(spark, work, tracer, Path(args.inputs))
    else:
        batches = sorted(str(p) for p in Path(args.inputs).glob("batch-*.parquet"))
        wl = IncrementalIngest(spark, work, tracer, batches)

    passes: list[dict] = []
    ops_by_pass: dict[int, list] = {}
    layers: list[dict] = []
    measured_from = time.perf_counter()
    p = 0
    while True:
        # traced runs: untraced cold pass, then warm passes U T U T ... so
        # each traced pass has an untraced pass on either side
        traced = bool(tracer) and p > 0 and p % 2 == 0
        if tracer:
            tracer.active = traced
            tracer.spans = []
            before = jvm.snapshot()
            jvm.reset_heap_peak()
        t0 = time.perf_counter()
        with (tracer.span(f"pass{p}", "pass", jobs=False) if traced else contextlib.nullcontext()):
            ops = wl.run_pass(p)
        wall = time.perf_counter() - t0
        passes.append({"pass": p, "wall": wall, "traced": traced,
                       "ops": [o[1] for o in ops], "ok": [o[2] for o in ops]})
        ops_by_pass[p] = ops
        if traced:
            tracer.active = False
            after = jvm.snapshot()
            heap = jvm.heap_peak_mb()
            spans = tracer.spans
            tracer.attach_jobs(spans)
            lm = layer_metrics(spans, wall, {k: after[k] - before[k] for k in after}, heap)
            written, n_files = wl.written(p)
            lm["io.bytes_written"] = written
            lm["io.files_written"] = n_files
            lm["io.write_amp"] = written / max(1, wl.bytes_in())
            phases = [tracing.catalyst_phases_ms(df) for df in wl.final_plans]
            for k in ("analysis", "optimization", "planning"):
                lm[f"catalyst.{k}_ms"] = sum(x.get(k, 0.0) for x in phases)
            lm["ingest.survivor_ratio"] = wl.survivor_ratio(p)
            lm["pass"] = p
            layers.append(lm)
            _dump_spans(work, p, spans)
        p += 1
        # traced runs need U T U; untraced runs report only set-up and the
        # cold pass, so they need no warm pass (see NOTES.md)
        if p - 1 < (3 if tracer else 0):
            continue
        if time.perf_counter() - measured_from >= args.seconds:
            break
        if time.perf_counter() - started + wall > DEADLINE_S:
            break

    failed, corpus = wl.check(ops_by_pass)
    attempted = sum(len(v) for v in ops_by_pass.values())
    result = {
        "boot_s": boot_s,
        "passes": passes,
        "attempted": attempted,
        "failed": failed,
        "corpus_digest": corpus,
        "layers": layers,
    }
    Path(args.result).write_text(json.dumps(result))
    sys.stdout.flush()
    os._exit(0)  # run.py stops the JVM and its Python workers


def _dump_spans(work: Path, p: int, spans: list[dict]) -> None:
    out = work / "spans"
    out.mkdir(parents=True, exist_ok=True)
    (out / f"pass{p}.json").write_text(json.dumps(spans))


if __name__ == "__main__":
    sys.exit(main())
