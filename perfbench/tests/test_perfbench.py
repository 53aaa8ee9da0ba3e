"""Tests of the benchmark's own machinery.

    python -m pytest perfbench/tests -q          # fast helpers only
    python -m pytest perfbench/tests -q -m ""    # plus the smoke run of every workload
"""

from __future__ import annotations

import decimal
import json
import math
import os
import subprocess
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, os.fspath(HERE))

import datagen  # noqa: E402
import run  # noqa: E402
from measure import failed_frac, result_digest, self_times, summarize, union_length  # noqa: E402
from tracing import module_bucket  # noqa: E402


def test_summarize_median_only_below_tail_threshold():
    assert summarize([3.0, 1.0, 2.0]) == {"n": 3, "p50": 2.0}
    assert summarize([float(i) for i in range(20)]) == {"n": 20, "p50": 9.5}
    assert summarize([]) == {"n": 0}


def test_summarize_tail_keeps_ten_samples_beyond():
    values = [float(i) for i in range(1, 101)]
    out = summarize(values)
    assert out["n"] == 100 and out["p50"] == 50.5
    assert out["p90"] == 90.0
    assert sum(v > out["p90"] for v in values) == 10
    values = [float(i) for i in range(1, 31)]
    out = summarize(values)
    assert out["p66"] == 20.0 and sum(v > out["p66"] for v in values) == 10


def test_union_length_merges_overlaps():
    assert union_length([]) == 0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 10), (2, 3)]) == 10


def test_self_time_subtracts_children_clipped_to_parent():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 3.0},
        {"id": 2, "parent": 0, "start": 2.0, "end": 5.0},
        {"id": 3, "parent": 0, "start": 8.0, "end": 12.0},
        {"id": 4, "parent": 1, "start": 1.5, "end": 2.5},
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - (4 + 2))
    assert st[1] == pytest.approx(1.0)
    assert st[4] == pytest.approx(1.0)


def test_failed_frac():
    assert failed_frac(30, 0) == 0.0
    assert failed_frac(30, 3) == pytest.approx(0.1)
    with pytest.raises(ValueError):
        failed_frac(0, 0)
    with pytest.raises(ValueError):
        failed_frac(2, 3)


def test_digest_ignores_row_and_column_order():
    a = result_digest(["x", "y"], [(1, "a"), (2, "b")])
    b = result_digest(["y", "x"], [("b", 2), ("a", 1)])
    assert a == b
    assert a != result_digest(["x", "y"], [(1, "a"), (2, "c")])
    assert a != result_digest(["x", "y"], [(1, "a")])
    assert a != result_digest(["x", "z"], [(1, "a"), (2, "b")])


def test_digest_canonicalises_values():
    d = lambda v: result_digest(["v"], [(v,)])  # noqa: E731
    assert d(-0.0) == d(0.0)
    assert d(float("nan")) == d(math.nan)
    assert d(decimal.Decimal("1.50")) == d(decimal.Decimal("1.5"))
    assert d(decimal.Decimal("0E-8")) == d(decimal.Decimal("0"))
    assert d(1) != d("1")
    assert d(None) != d(0)
    assert d([1, 2]) == d((1, 2))


def test_read_back_mismatch_counts_as_failed(tmp_path):
    rows = [(1, "a"), (2, "b")]
    out = tmp_path / "out"
    for name in run.ETL_QUERIES[:2]:
        (out / "p0" / name).mkdir(parents=True)
        pq.write_table(
            pa.table({"x": [r[0] for r in rows], "y": [r[1] for r in rows]}),
            out / "p0" / name / "part-0.parquet",
        )
    good = result_digest(["x", "y"], rows)
    expected = {run.ETL_QUERIES[0]: good, run.ETL_QUERIES[1]: "not-the-digest"}
    passes = [{"pass": 0, "ok": [True, True]}]
    assert run._check_tables(out, passes, expected) == 1
    # an operation the worker already counted as failed is not counted twice
    passes = [{"pass": 0, "ok": [True, False]}]
    assert run._check_tables(out, passes, expected) == 0


def test_trace_overhead_brackets_each_traced_pass():
    walls = [30.0, 12.0, 11.5, 10.0, 10.4, 9.0, 9.9]
    passes = [{"wall": w, "traced": i > 0 and i % 2 == 0} for i, w in enumerate(walls)]
    # pass 2 against (12+10)/2 and pass 4 against (10+9)/2; pass 6 has no
    # untraced pass after it and is left out
    assert run._trace_overhead(passes) == pytest.approx(((11.5 - 11.0) + (10.4 - 9.5)) / 2)


def test_seed_changes_order_and_split_not_content(tmp_path):
    base = tmp_path / "base"
    datagen.write_base(base)
    a, b = tmp_path / "a", tmp_path / "b"
    datagen.seeded_tables(base, a, 1)
    datagen.seeded_tables(base, b, 2)
    for name in ("lineitem", "documents"):
        ta = pq.read_table(a / f"{name}.parquet")
        tb = pq.read_table(b / f"{name}.parquet")
        orig = pq.read_table(base / f"{name}.parquet")
        assert ta.num_rows == tb.num_rows == orig.num_rows
        assert ta.column(0).to_pylist() != tb.column(0).to_pylist()
        key = lambda t: sorted(map(repr, t.to_pylist()))  # noqa: E731
        assert key(ta) == key(tb) == key(orig)
    paths = datagen.seeded_batches(base, tmp_path / "batches", 7, 3)
    ids = [pq.read_table(p).column("doc_id").to_pylist() for p in paths]
    assert sorted(sum(ids, [])) == list(range(datagen.ROWS["documents"]))
    again = datagen.seeded_batches(base, tmp_path / "again", 7, 3)
    assert ids == [pq.read_table(p).column("doc_id").to_pylist() for p in again]


def test_base_tables_are_deterministic():
    a, b = datagen.base_tables(), datagen.base_tables()
    assert all(a[t].equals(b[t]) for t in datagen.TABLES)


def test_module_bucket():
    assert module_bucket("pharmacodi_spark.plans.extensions3") == "plans"
    assert module_bucket("pharmacodi_spark.text.dedup") == "text.dedup"
    assert module_bucket("pharmacodi_spark.io") == "io"
    assert module_bucket("pharmacodi_spark.text.incremental") == "other"


@pytest.mark.slow
@pytest.mark.parametrize("workload", run.WORKLOADS)
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run(workload, trace):
    """One short run per workload and mode; every output must check out."""
    proc = subprocess.run(
        [sys.executable, os.fspath(HERE / "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", str(trace)],
        cwd=HERE.parent, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    names = {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}
    assert set(res["metrics"]) == names
    assert all(isinstance(m["value"], (int, float)) for m in res["metrics"].values())
