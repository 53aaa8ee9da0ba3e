"""Tests for the record-text source (Cellosaurus-shaped, FIXTURES.md §B5)
and the injected-fetcher API connector (§B8 — no network)."""

from __future__ import annotations

import pytest

import pandas as pd

from pharmacodi_spark.sources.api import fetch_batched
from pharmacodi_spark.sources.record_text import parse_record_text

CELLO = "\n".join(
    ["header line"] * 5
    + [
        "ID   CELL-A",
        "AC   CVCL_0001",
        "SY   synA1; synA2",
        "DI   NCIt; C0001; Carcinoma",
        "DI   NCIt; C0002; Melanoma",
        "//",
        "ID   CELL-B",
        "AC   CVCL_0002",
        "OX   NCBI_TaxID=9606; ! Homo sapiens",
        "//",
    ]
) + "\n"


def test_parse_record_text(spark, tmp_path):
    p = tmp_path / "cello.txt"
    p.write_text(CELLO)
    df = parse_record_text(spark, str(p), header_lines=5)
    rows = {r.ID: r.asDict() for r in df.collect()}
    assert set(rows) == {"CELL-A", "CELL-B"}
    a = rows["CELL-A"]
    assert a["AC"] == "CVCL_0001"
    # repeated codes group-concatenated in line order (build_cellosaurus.py:60-61)
    assert a["DI"] == "NCIt; C0001; Carcinoma|||NCIt; C0002; Melanoma"
    b = rows["CELL-B"]
    assert b["OX"].startswith("NCBI_TaxID=9606") and b["DI"] is None


def test_parse_record_text_pinned_codes(spark, tmp_path):
    p = tmp_path / "cello2.txt"
    p.write_text(CELLO)
    df = parse_record_text(spark, str(p), header_lines=5, codes=["ID", "AC", "ZZ"])
    assert df.columns == ["entry_id", "ID", "AC", "ZZ"]
    assert df.where(df.ZZ.isNotNull()).count() == 0


def test_parse_record_text_multi_file(spark, tmp_path):
    """A directory of record files parses with per-file parallelism: entry
    ids are per-file, include_file disambiguates, and the physical plan has
    no single-partition global Exchange (the round-1 scale hazard — windows
    ordered globally would funnel every line through one task)."""
    d = tmp_path / "recs"
    d.mkdir()
    (d / "part0.txt").write_text(CELLO)
    cello2 = CELLO.replace("CELL-A", "CELL-C").replace("CELL-B", "CELL-D")
    (d / "part1.txt").write_text(cello2)
    df = parse_record_text(spark, str(d), header_lines=5, include_file=True)
    rows = {(r.file.rsplit("/", 1)[-1], r.ID): r.entry_id for r in df.collect()}
    assert set(rows) == {
        ("part0.txt", "CELL-A"),
        ("part0.txt", "CELL-B"),
        ("part1.txt", "CELL-C"),
        ("part1.txt", "CELL-D"),
    }
    # per-file 0-based entry ids, not a global sequence
    assert rows[("part0.txt", "CELL-A")] == 0 and rows[("part1.txt", "CELL-C")] == 0
    assert rows[("part0.txt", "CELL-B")] == 1 and rows[("part1.txt", "CELL-D")] == 1
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, plan


def test_fetch_batched_injected(spark):
    ids = spark.createDataFrame([(f"id{i}",) for i in range(10)], ["uniprot_id"])
    calls = []

    def fake_fetcher(chunk):
        calls.append(len(chunk))
        return pd.DataFrame(
            {"uniprot_id": chunk, "gene_id": [f"G_{c}" for c in chunk]}
        )

    out = fetch_batched(
        ids, fake_fetcher, "uniprot_id string, gene_id string", batch_size=3
    )
    rows = {r.uniprot_id: r.gene_id for r in out.collect()}
    assert rows["id7"] == "G_id7" and len(rows) == 10


def test_fetch_batched_retry(spark):
    ids = spark.createDataFrame([("x",)], ["k"])
    state = {"fails": 0}

    def flaky(chunk):
        # fails once per partition-attempt then succeeds (executor-local state)
        if state["fails"] < 1:
            state["fails"] += 1
            raise RuntimeError("transient")
        return pd.DataFrame({"k": chunk})

    out = fetch_batched(ids, flaky, "k string", batch_size=10)
    assert out.count() == 1


@pytest.mark.slow
def test_merge_upsert_partitioned(spark, tmp_path):
    """Dynamic-partition upsert: updated keys replaced, new keys inserted,
    untouched partitions' files physically untouched."""
    import os
    import time as _time

    from pharmacodi_spark.io import merge_upsert

    path = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(1, "DS0", 10.0), (2, "DS0", 20.0), (3, "DS1", 30.0), (4, "DS2", 40.0)],
        ["k", "ds", "v"],
    )
    base.write.partitionBy("ds").parquet(path)

    def files(part):
        d = os.path.join(path, f"ds={part}")
        return {
            f: os.path.getmtime(os.path.join(d, f))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    ds1_before = files("DS1")
    _time.sleep(1.1)  # mtime resolution guard
    updates = spark.createDataFrame(
        [(2, "DS0", 99.0), (5, "DS0", 50.0)], ["k", "ds", "v"]
    )
    merge_upsert(spark, path, updates, key_cols=["k"], partition_by="ds")

    rows = {r.k: (r.ds, r.v) for r in spark.read.parquet(path).collect()}
    assert rows == {
        1: ("DS0", 10.0),
        2: ("DS0", 99.0),   # replaced
        3: ("DS1", 30.0),   # untouched
        4: ("DS2", 40.0),   # untouched
        5: ("DS0", 50.0),   # inserted
    }
    assert files("DS1") == ds1_before  # partition not rewritten


def test_merge_upsert_partitioned_keeps_session_conf(spark, tmp_path):
    """The partitioned upsert asks for dynamic overwrite on its own writer:
    the session-wide overwrite mode is the same before and after, and the
    partitions the batch never touches still hold their rows (a static
    overwrite would have deleted them)."""
    from pharmacodi_spark.io import merge_upsert

    conf = "spark.sql.sources.partitionOverwriteMode"
    path = str(tmp_path / "tbl")
    spark.createDataFrame(
        [(1, "DS0", 10.0), (2, "DS0", 20.0), (3, "DS1", 30.0)], ["k", "ds", "v"]
    ).write.partitionBy("ds").parquet(path)

    before = spark.conf.get(conf)
    merge_upsert(
        spark,
        path,
        spark.createDataFrame([(2, "DS0", 99.0), (4, "DS2", 40.0)], ["k", "ds", "v"]),
        key_cols=["k"],
        partition_by="ds",
    )
    assert spark.conf.get(conf) == before
    rows = {r.k: (r.ds, r.v) for r in spark.read.parquet(path).collect()}
    assert rows == {
        1: ("DS0", 10.0),
        2: ("DS0", 99.0),
        3: ("DS1", 30.0),
        4: ("DS2", 40.0),
    }


def test_merge_upsert_moved_key(spark, tmp_path):
    """A key whose update CHANGES its partition value must not leave its old
    row behind: the stale source partition is detected by key semi-join and
    rewritten — or physically dropped when nothing in it survives."""
    import os

    from pharmacodi_spark.io import merge_upsert

    path = str(tmp_path / "mv")
    base = spark.createDataFrame(
        [(1, "DS0", 10.0), (2, "DS0", 20.0), (3, "DS1", 30.0)],
        ["k", "ds", "v"],
    )
    base.write.partitionBy("ds").parquet(path)

    # k=2 moves DS0→DS2; k=3 moves DS1→DS2 and empties DS1 entirely
    updates = spark.createDataFrame(
        [(2, "DS2", 99.0), (3, "DS2", 77.0)], ["k", "ds", "v"]
    )
    merge_upsert(spark, path, updates, key_cols=["k"], partition_by="ds")

    rows = {r.k: (r.ds, r.v) for r in spark.read.parquet(path).collect()}
    assert rows == {
        1: ("DS0", 10.0),   # survives its partition's rewrite
        2: ("DS2", 99.0),   # moved, exactly one row
        3: ("DS2", 77.0),   # moved out of a now-empty partition
    }
    # the emptied partition directory is physically gone
    assert not os.path.exists(os.path.join(path, "ds=DS1"))


@pytest.mark.parametrize(
    "base, updates, expected, gone",
    [
        pytest.param(
            [(1, None, 1.0), (2, None, 2.0), (3, "x", 3.0)],
            [(1, None, 9.0)],
            {1: (None, 9.0), 2: (None, 2.0), 3: ("x", 3.0)},
            None,
            id="update_in_null_partition",
        ),
        pytest.param(
            [(1, None, 1.0), (3, "x", 3.0)],
            [(1, "x", 9.0)],
            {1: ("x", 9.0), 3: ("x", 3.0)},
            "ds=__HIVE_DEFAULT_PARTITION__",
            id="move_out_of_null_partition",
        ),
        pytest.param(
            [(1, "a/b", 1.0), (3, "x", 3.0)],
            [(1, "x", 9.0)],
            {1: ("x", 9.0), 3: ("x", 3.0)},
            "ds=a%2Fb",
            id="move_out_of_escaped_partition",
        ),
    ],
)
def test_merge_upsert_partition_values(spark, tmp_path, base, updates, expected, gone):
    """Partition values that Spark stores under a different directory name
    than their plain text: the null partition (written as
    ``__HIVE_DEFAULT_PARTITION__``) and a value holding "/" (escaped to
    ``%2F``). The null partition merges like any other, and a partition
    emptied by a moved key is dropped under Spark's own directory name."""
    import os

    from pharmacodi_spark.io import merge_upsert

    schema = "k int, ds string, v double"
    path = str(tmp_path / "tbl")
    spark.createDataFrame(base, schema).write.partitionBy("ds").parquet(path)
    merge_upsert(
        spark,
        path,
        spark.createDataFrame(updates, schema),
        key_cols=["k"],
        partition_by="ds",
    )
    rows = spark.read.parquet(path).collect()
    assert len(rows) == len(expected)
    assert {r.k: (r.ds, r.v) for r in rows} == expected
    if gone is not None:
        assert not os.path.exists(os.path.join(path, gone))


@pytest.mark.parametrize("partition_by", [None, "ds"])
def test_merge_upsert_seeds_absent_path(spark, tmp_path, partition_by):
    """On an absent path the upsert writes ``updates`` as the table."""
    import os

    from pharmacodi_spark.io import merge_upsert

    path = str(tmp_path / "new")
    updates = spark.createDataFrame(
        [(1, "DS0", 10.0), (2, "DS1", 20.0)], ["k", "ds", "v"]
    )
    merge_upsert(spark, path, updates, key_cols=["k"], partition_by=partition_by)

    rows = {r.k: (r.ds, r.v) for r in spark.read.parquet(path).collect()}
    assert rows == {1: ("DS0", 10.0), 2: ("DS1", 20.0)}
    dirs = {d for d in os.listdir(path) if "=" in d}
    assert dirs == ({"ds=DS0", "ds=DS1"} if partition_by else set())


def test_merge_upsert_unpartitioned(spark, tmp_path):
    from pharmacodi_spark.io import merge_upsert

    path = str(tmp_path / "flat")
    spark.createDataFrame([(1, "a"), (2, "b")], ["k", "s"]).write.parquet(path)
    merge_upsert(
        spark,
        path,
        spark.createDataFrame([(2, "B"), (3, "c")], ["k", "s"]),
        key_cols=["k"],
    )
    rows = {r.k: r.s for r in spark.read.parquet(path).collect()}
    assert rows == {1: "a", 2: "B", 3: "c"}


def test_table_format_backend_dispatch(spark, tmp_path):
    """The canonical sinks accept a table-format switch: parquet is the
    implemented OSS default; delta/iceberg are recognized and fail fast
    with setup instructions when their libraries aren't on the session
    (this container ships neither); anything else is rejected outright."""
    import pytest

    from pharmacodi_spark.io import merge_upsert, save_canonical

    df = spark.createDataFrame([(1, "a")], ["k", "s"])
    # parquet default writes through the existing path
    save_canonical(df, "misc", str(tmp_path), table_format="parquet")
    assert spark.read.parquet(str(tmp_path / "misc")).count() == 1

    with pytest.raises(ValueError, match="unknown table_format"):
        save_canonical(df, "misc", str(tmp_path), table_format="orc2000")
    # delta-spark isn't installed here: the delta branch must name the
    # missing setup, not fall back to a silent parquet write
    try:
        import delta  # noqa: F401

        have_delta = True
    except ImportError:
        have_delta = False
    if not have_delta:
        with pytest.raises(NotImplementedError, match="delta-spark"):
            save_canonical(df, "misc", str(tmp_path), table_format="delta")
        with pytest.raises(NotImplementedError, match="delta-spark"):
            merge_upsert(
                spark, str(tmp_path / "misc"), df, ["k"], table_format="delta"
            )
    # iceberg needs its session extension; this session doesn't carry it
    with pytest.raises(NotImplementedError, match="iceberg-spark-runtime"):
        save_canonical(df, "misc", str(tmp_path), table_format="iceberg")
    with pytest.raises(ValueError, match="parquet' or 'delta"):
        merge_upsert(
            spark, str(tmp_path / "misc"), df, ["k"], table_format="iceberg"
        )
