"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_build --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of this repository. It makes the seeded
inputs, times set-up in fresh processes, runs the workload's timed passes in
one more fresh process (``worker.py``), checks every output, and prints one
JSON line as the last line of stdout. ``--trace 1`` reports the per-layer
metrics instead of the end-to-end ones. See ``perfbench/NOTES.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

import pyarrow.parquet as pq

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CACHE = ROOT / ".perfbench"
sys.path.insert(0, os.fspath(HERE))

import datagen  # noqa: E402
from measure import failed_frac, result_digest, summarize  # noqa: E402
from tracing import LAYER_MODULES  # noqa: E402
from worker import ETL_QUERIES  # noqa: E402

WORKLOADS = ("etl_build", "incremental_ingest")
CPUS = 4
SETUP_SAMPLES = 2  # fresh processes timed to READY; the last one runs the workload
INGEST_BATCHES = 2
RUN_LIMIT_S = 170.0

E2E = {"setup_s": "s", "cold_pass_s": "s"}
LAYER_UNITS = {
    "warm.pass_s": "s", "warm.batch_p50_s": "s", "session.boot_s": "s",
    "plans.build_s": "s", "plans.build_self_s": "s",
    "plans.build_jobs": "count", "plans.build_tasks": "count",
    "plans.build_executor_s": "s", "driver.gap_s": "s",
    "barrier.pins": "count", "barrier.pin_s": "s",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms", "codegen.compiles": "count",
    "codegen.compile_ms": "ms", "exec.s": "s", "exec.jobs": "count",
    "exec.stages": "count", "exec.tasks": "count", "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s", "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes", "exec.spill_bytes": "bytes",
    "io.save_s": "s", "io.merge_upsert_s": "s", "io.bytes_written": "bytes",
    "io.files_written": "count", "io.write_amp": "ratio",
    "ingest.batch_s": "s", "ingest.jobs_per_batch": "count",
    "ingest.survivor_ratio": "ratio", "jvm.gc_s": "s", "jvm.heap_peak_mb": "MB",
    "mem.peak_rss_mb": "MB", "trace.overhead_s": "s", "ops_failed_frac": "ratio",
}
for _mod in [*LAYER_MODULES, "other"]:
    LAYER_UNITS[f"eager.{_mod}.calls"] = "count"
    LAYER_UNITS[f"eager.{_mod}.jobs"] = "count"
    LAYER_UNITS[f"eager.{_mod}.s"] = "s"


def _session_pids(sid: int) -> list[int]:
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            stat = Path(f"/proc/{entry}/stat").read_text()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        if int(fields[3]) == sid:
            pids.append(int(entry))
    return pids


def _tree_rss_mb(sid: int) -> float:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in _session_pids(sid):
        try:
            total += int(Path(f"/proc/{pid}/statm").read_text().split()[1]) * page
        except OSError:
            pass
    return total / 2**20


def _reap(sid: int) -> None:
    """Kill every process left in the worker's session and wait until gone.
    The worker has already written its result, so nothing is lost."""
    deadline = time.time() + 10
    while time.time() < deadline:
        left = _session_pids(sid)
        if not left:
            return
        for pid in left:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


class Child:
    """A fresh worker process; ``ready_s`` is its time from spawn to READY."""

    def __init__(self, argv: list[str], env: dict, work: Path, log: Path):
        self.t0 = time.perf_counter()
        with log.open("ab") as err:
            self.proc = subprocess.Popen(
                [sys.executable, os.fspath(HERE / "worker.py"), "--work", os.fspath(work), *argv],
                cwd=work, env=env, stdout=subprocess.PIPE, stderr=err,
                stdin=subprocess.DEVNULL, start_new_session=True, text=True,
            )
        self.ready_s = None

    def wait_ready(self) -> None:
        for line in self.proc.stdout:
            if line.strip() == "PERFBENCH READY":
                self.ready_s = time.perf_counter() - self.t0
                break
        # drain the rest so the child never blocks on a full pipe
        threading.Thread(target=self.proc.stdout.read, daemon=True).start()

    def finish(self, timeout: float) -> int:
        try:
            code = self.proc.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            code = -1
        _reap(self.proc.pid)
        self.proc.wait()
        return code


def _prepare() -> tuple[Path, str]:
    base = CACHE / "base"
    if not (base / "DONE").exists():
        tmp = CACHE / f"base.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        datagen.write_base(tmp)
        (tmp / "DONE").write_text("")
        shutil.rmtree(base, ignore_errors=True)
        tmp.rename(base)
    return base, datagen.fingerprint(base)


def _ingest_digest_ok(fp: str, seed: int, digest: str | None) -> bool:
    """The corpus built from one seed must be identical on every run."""
    if digest is None:
        return False
    path = CACHE / "ingest-digests.json"
    known = json.loads(path.read_text()) if path.exists() else {}
    key = f"{fp}:{seed}:{INGEST_BATCHES}"
    if key not in known:
        known[key] = digest
        tmp = path.with_suffix(".tmp")
        tmp.write_text(json.dumps(known, indent=1, sort_keys=True))
        tmp.replace(path)
    return known[key] == digest


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.perf_counter()

    if not (ROOT / "pharmacodi_spark" / "__init__.py").is_file():
        print(f"perfbench: engine sources not found under {ROOT}", file=sys.stderr)
        return 2

    CACHE.mkdir(exist_ok=True)
    base, fp = _prepare()
    for stale in (CACHE / "work").glob("run-*"):  # left by a run killed with SIGKILL
        if not Path(f"/proc/{stale.name[4:]}").exists():
            shutil.rmtree(stale, ignore_errors=True)
    work = CACHE / "work" / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "local", "inputs"):
        (work / sub).mkdir(parents=True)
    log = work / "worker.log"
    children: list[Child] = []
    # a SIGTERM from whoever runs the benchmark unwinds through the finally
    # below, which kills and reaps every child process group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        argv = ["--workload", args.workload, "--inputs", os.fspath(work / "inputs"),
                "--seconds", str(args.seconds), "--trace", str(args.trace),
                "--result", os.fspath(work / "result.json")]
        if args.workload == "etl_build":
            from oracle import cached_digests

            expected = cached_digests(ROOT, CACHE, base, fp, ETL_QUERIES)
            datagen.seeded_tables(base, work / "inputs", args.seed)
        else:
            datagen.seeded_batches(base, work / "inputs", args.seed, INGEST_BATCHES)

        env = dict(os.environ)
        env.update({
            "SPARK_GRAFT_CPUS": str(CPUS),
            "PYTHONPATH": os.pathsep.join(p for p in (os.fspath(ROOT), env.get("PYTHONPATH")) if p),
            "PYSPARK_PYTHON": sys.executable,
            "SPARK_LOCAL_DIRS": os.fspath(work / "local"),
            "TMPDIR": os.fspath(work / "tmp"),
        })
        setup = []
        for _ in range(SETUP_SAMPLES - 1):
            child = Child(["--setup-only"], env, work, log)
            children.append(child)
            child.wait_ready()
            child.finish(60)
            setup.append(child.ready_s)
        worker = Child(argv, env, work, log)
        children.append(worker)
        worker.wait_ready()
        setup.append(worker.ready_s)

        # RSS is a per-layer figure: sample only in traced runs, so the
        # /proc scans never perturb the end-to-end timings
        peak = [0.0]
        stop = threading.Event()

        def sample():
            while not stop.wait(0.2):
                peak[0] = max(peak[0], _tree_rss_mb(worker.proc.pid))

        sampler = threading.Thread(target=sample, daemon=True)
        if args.trace:
            sampler.start()
        code = worker.finish(RUN_LIMIT_S - (time.perf_counter() - started))
        stop.set()
        if args.trace:
            sampler.join()
        if code != 0 or None in setup or not (work / "result.json").exists():
            tail = log.read_text(errors="replace")[-4000:] if log.exists() else ""
            print(f"perfbench: worker failed (exit {code})\n{tail}", file=sys.stderr)
            return 1
        res = json.loads((work / "result.json").read_text())
        if args.workload == "etl_build":
            res["failed"] += _check_tables(work / "out", res["passes"], expected)
        if args.trace:
            _keep_spans(work, args)
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)  # finish cleaning up
        for child in children:
            _reap(child.proc.pid)
        shutil.rmtree(work, ignore_errors=True)

    failed = res["failed"]
    if args.workload == "incremental_ingest" and not _ingest_digest_ok(fp, args.seed, res["corpus_digest"]):
        print("perfbench: ingest corpus differs from an earlier run with this seed", file=sys.stderr)
        failed = res["attempted"]
    passes = res["passes"]
    warm = [p for p in passes[1:] if not p["traced"]]
    if args.trace:
        layers = res["layers"]
        values = {k: statistics.median(lm[k] for lm in layers) for k in layers[0] if k != "pass"}
        values["warm.pass_s"] = statistics.median(p["wall"] for p in warm)
        values["warm.batch_p50_s"] = statistics.median(t for p in warm for t in p["ops"])
        values["session.boot_s"] = res["boot_s"]
        values["mem.peak_rss_mb"] = peak[0]
        values["trace.overhead_s"] = _trace_overhead(passes)
        values["ops_failed_frac"] = failed_frac(res["attempted"], failed)
        metrics = {k: {"value": values[k], "unit": u} for k, u in LAYER_UNITS.items()}
    else:
        values = {"setup_s": statistics.median(setup), "cold_pass_s": passes[0]["wall"]}
        metrics = {k: {"value": values[k], "unit": u} for k, u in E2E.items()}
    print(f"perfbench: {args.workload} seed={args.seed} setup={[round(x, 2) for x in setup]} "
          f"passes={[round(p['wall'], 2) for p in passes]} "
          f"ops={summarize([t for p in passes for t in p['ops']])} "
          f"wall={time.perf_counter() - started:.1f}s", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": res["attempted"],
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def _trace_overhead(passes: list[dict]) -> float:
    """Median over traced warm passes of the pass wall minus the mean wall of
    the untraced passes just before and after it (cancels warm-up drift)."""
    walls = [p["wall"] for p in passes]
    diffs = [
        walls[i] - (walls[i - 1] + walls[i + 1]) / 2
        for i, p in enumerate(passes)
        if p["traced"] and 1 < i < len(passes) - 1
    ]
    return statistics.median(diffs)


def _check_tables(out: Path, passes: list[dict], expected: dict[str, str]) -> int:
    """Read back every table a pass wrote and compare its digest with the
    oracle's; returns how many written tables are wrong or unreadable."""
    bad = 0
    for p in passes:
        for name, ok in zip(ETL_QUERIES, p["ok"]):
            if not ok:
                continue  # already counted by the worker
            try:
                table = pq.read_table(out / f"p{p['pass']}" / name)
                rows = [tuple(r.values()) for r in table.to_pylist()]
                good = result_digest(table.column_names, rows) == expected[name]
            except Exception as exc:
                print(f"perfbench: read-back of {name} failed: {exc!r}", file=sys.stderr)
                good = False
            if not good:
                print(f"perfbench: {name} pass {p['pass']} differs from the oracle", file=sys.stderr)
                bad += 1
    return bad


def _keep_spans(work: Path, args) -> None:
    src = work / "spans"
    if src.exists():
        dst = CACHE / "traces" / f"{args.workload}-seed{args.seed}"
        shutil.rmtree(dst, ignore_errors=True)
        shutil.copytree(src, dst)


if __name__ == "__main__":
    sys.exit(main())
