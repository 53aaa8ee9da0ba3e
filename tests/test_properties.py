"""Property-based tests (SURVEY §5 item 4): reshape round-trips, dedup
idempotence, harmonize contract laws — hypothesis-generated inputs through
the real Spark operators. Examples kept small (Spark per-example cost);
the properties, not the volume, carry the coverage."""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from pharmacodi_spark.operators.dedup import distinct_rows, first_per_group
from pharmacodi_spark.operators.reshape import explode_list, melt_wide
from pharmacodi_spark.schema import harmonize

SETTINGS = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)

ids = st.lists(st.integers(0, 50), min_size=1, max_size=8, unique=True)


@given(ids=ids, vals=st.data())
@SETTINGS
@pytest.mark.slow
def test_melt_pivot_roundtrip(spark, ids, vals):
    """melt(wide) then pivot back reproduces the wide table (modulo nulls,
    which melt drops by design — use non-null doubles here)."""
    n_cols = 3
    rows = [
        (i, *[vals.draw(st.floats(-100, 100, allow_nan=False)) for _ in range(n_cols)])
        for i in ids
    ]
    wide = spark.createDataFrame(rows, ["exp_id", "dose1", "dose2", "dose3"])
    long = melt_wide(
        wide, id_vars=["exp_id"], value_prefix="dose", var_name="dose_id", value_name="dose"
    )
    back = (
        long.groupBy("exp_id")
        .pivot("dose_id", [1, 2, 3])
        .agg(F.first("dose"))
        .withColumnsRenamed({"1": "dose1", "2": "dose2", "3": "dose3"})
    )
    a = {tuple(r) for r in wide.collect()}
    b = {tuple(r) for r in back.collect()}
    assert a == b


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 5), st.lists(st.text("ab", max_size=2), max_size=3)),
        min_size=1,
        max_size=6,
    )
)
@SETTINGS
def test_explode_collect_roundtrip(spark, rows):
    """explode ∘ (groupBy + collect_list) preserves each row's multiset of
    list elements (empty lists vanish under explode — reference semantics)."""
    df = spark.createDataFrame(
        [(i, lst) for i, (i2, lst) in enumerate(rows) for _ in [0]],
        "row_id long, items array<string>",
    )
    exploded = explode_list(df, "items", out_col="item")
    back = exploded.groupBy("row_id").agg(F.sort_array(F.collect_list("item")).alias("items"))
    expect = {i: sorted(lst) for i, (_, lst) in enumerate(rows) if lst}
    got = {r.row_id: list(r.items) for r in back.collect()}
    assert got == expect


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 3)), min_size=1, max_size=12
    )
)
@SETTINGS
@pytest.mark.slow
def test_dedup_idempotent_and_minimal(spark, rows):
    df = spark.createDataFrame(rows, ["a", "b"])
    d1 = distinct_rows(df)
    d2 = distinct_rows(d1)
    assert d1.count() == d2.count() == len(set(rows))


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 100)), min_size=1, max_size=12
    )
)
@SETTINGS
def test_first_per_group_deterministic(spark, rows):
    df = spark.createDataFrame(rows, ["k", "v"])
    out = {r.k: r.v for r in first_per_group(df, keys=["k"], order_by=["v"]).collect()}
    expect = {}
    for k, v in rows:
        expect[k] = min(v, expect.get(k, v))
    assert out == expect


def test_harmonize_contract_laws(spark):
    """harmonize: declared columns always present with declared types; extra
    columns dropped; missing columns typed-null; idempotent."""
    df = spark.createDataFrame(
        pd.DataFrame({"a": [1, 2], "extra": ["x", "y"], "f": [1.5, 2.5]})
    )
    contract = {"a": "long", "b": "string", "f": "int"}
    out = harmonize(df, contract)
    assert out.columns == ["a", "b", "f"]
    assert dict(out.dtypes) == {"a": "bigint", "b": "string", "f": "int"}
    assert out.where(F.col("b").isNotNull()).count() == 0
    out2 = harmonize(out, contract)
    assert out2.schema == out.schema and out2.count() == out.count()


@pytest.mark.parametrize("salts", [1, 4])
def test_salted_join_keyset_invariant(spark, salts):
    from pharmacodi_spark.operators.joins import salted_join

    left = spark.range(0, 200).select((F.col("id") % 7).alias("k"), "id")
    right = spark.range(0, 7).select(F.col("id").alias("k"), (F.col("id") * 10).alias("w"))
    assert (
        salted_join(left, right, "k", salts=salts).count()
        == left.join(right, "k").count()
    )


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 25), st.integers(0, 25)),
        min_size=1,
        max_size=30,
    )
)
@SETTINGS
@pytest.mark.slow
def test_connected_components_matches_union_find(spark, cc_path, edges):
    """Label-propagation CC over arbitrary small graphs ≡ a driver-side
    union-find referee (min label per component), on both CC paths."""
    from pharmacodi_spark.text.clusters import connected_components

    edges = [(a, b) for a, b in edges if a != b]
    if not edges:
        return
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    expect = {n: find(n) for n in parent}

    df = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    got = {r.node: r.component for r in connected_components(df).collect()}
    assert got == expect


@given(
    cut=st.integers(1, 99),
    n=st.integers(20, 120),
)
@SETTINGS
@pytest.mark.slow
def test_hash_split_partition_property(spark, cut, n):
    """For ANY two-way fraction split and ANY id set: disjoint, exhaustive,
    and deterministic across invocations."""
    from pharmacodi_spark.operators.sampling import hash_split

    df = spark.createDataFrame([(i * 7 + 1,) for i in range(n)], ["k"])
    f = cut / 100.0
    a, b = hash_split(df, "k", [f, 1.0 - f])
    ids_a = {r.k for r in a.collect()}
    ids_b = {r.k for r in b.collect()}
    assert not (ids_a & ids_b)
    assert len(ids_a) + len(ids_b) == n
    a2, _ = hash_split(df, "k", [f, 1.0 - f])
    assert {r.k for r in a2.collect()} == ids_a
