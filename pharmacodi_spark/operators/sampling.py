"""Deterministic sampling (north star): reproducible corpus subsets.

``DataFrame.sample`` is seeded per-partition and changes with partitioning,
Spark version, and row order — unusable for reproducible train/eval splits
or cross-engine verification. Hash-based sampling keys the decision on the
ROW (md5 of a stable key), so the same row lands in the same split on any
engine, any partitioning, any day — and the filter is a pure expression
Catalyst can push toward the scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_BUCKETS = 10_000


def hash_sample(
    df: DataFrame,
    key_col: str,
    fraction: float,
    salt: str = "",
) -> DataFrame:
    """Keep rows whose md5(salt || key) mod 10000 < fraction·10000 —
    deterministic, engine-portable row selection (~``fraction`` of rows for
    a hash-uniform key). Different ``salt`` values draw independent
    samples; disjoint fraction bands of the same salt give disjoint splits
    (see :func:`hash_split`)."""
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(salt), F.col(key_col).cast("string"))), 1, 15),
            16,
            10,
        ).cast("long")
        % _BUCKETS
    )
    return df.where(bucket < int(fraction * _BUCKETS))


def weighted_sample(
    df: DataFrame,
    weight,
    key_cols: list[str],
    salt: str = "",
) -> DataFrame:
    """Per-row weighted Bernoulli keep: row survives iff its deterministic
    uniform draw u(key) ∈ [0,1) is below ``weight`` (a Column or constant
    in [0,1] — e.g. a quality score, so better documents are kept more
    often). The draw is the md5 bucket of the salted key over 10000, so
    membership is reproducible on any engine/partitioning, independent
    draws come from different salts, and the filter is a pure pushable
    expression — the weighted generalization of :func:`hash_sample`."""
    key = F.concat_ws(
        "|", F.lit(salt), *[F.col(c).cast("string") for c in key_cols]
    )
    bucket = (
        F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("long") % _BUCKETS
    )
    w = weight if isinstance(weight, Column) else F.lit(float(weight))
    return df.where(bucket.cast("double") < w * _BUCKETS)


def hash_split(
    df: DataFrame,
    key_col: str,
    fractions: list[float],
    salt: str = "",
) -> list[DataFrame]:
    """Disjoint deterministic splits (e.g. train/val/test = [0.9, 0.05,
    0.05]): consecutive bucket bands of the same hash, so membership is
    exclusive and exhaustive up to rounding."""
    assert abs(sum(fractions) - 1.0) < 1e-9, "fractions must sum to 1"
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(salt), F.col(key_col).cast("string"))), 1, 15),
            16,
            10,
        ).cast("long")
        % _BUCKETS
    )
    out, lo = [], 0
    for i, frac in enumerate(fractions):
        hi = _BUCKETS if i == len(fractions) - 1 else lo + int(frac * _BUCKETS)
        out.append(df.where((bucket >= lo) & (bucket < hi)))
        lo = hi
    return out


def temperature_mixture_sample(
    df: DataFrame,
    group_col: str,
    key_cols: list[str] | None = None,
    salt: str = "",
) -> DataFrame:
    """Multi-source corpus mixing with temperature 0.5: source ``s`` with
    ``n_s`` rows is kept at rate ``min(1, 0.5 · sqrt(N/n_s))`` — expected
    kept rows ∝ ``sqrt(n_s)``, which flattens the source distribution
    (down-samples head domains, keeps the tail), the standard
    pretraining-mixture reweighting. Row selection reuses the
    deterministic md5 draw of :func:`weighted_sample`, so membership is
    reproducible on any engine/partitioning.

    The rate uses sqrt/multiply/divide only — all correctly-rounded IEEE
    ops, so it is BIT-IDENTICAL across engines (no order-dependent double
    summation anywhere: per-source counts are integers, and N is their
    integer window-sum over the counts frame).

    Scale shape: one count aggregate per source, then N as a global window
    over the COUNTS frame — single-partition, but over #sources rows
    (bounded metadata, not corpus data; also sidesteps Spark's
    common-lineage ambiguity when cross-joining two aggregates of the same
    input). One broadcast join attaches rates; the pushable md5 filter does
    the rest. The corpus never shuffles."""
    from pyspark.sql import Window

    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("__n"))
    n = F.col("__n").cast("double")
    N = F.sum("__n").over(Window.partitionBy()).cast("double")
    ratio = F.sqrt(N) / F.sqrt(n)
    rates = counts.select(
        group_col,
        F.least(F.lit(1.0), F.lit(0.5) * ratio).alias("rate"),
    )
    joined = df.join(F.broadcast(rates), group_col)
    keys = list(key_cols) if key_cols else [group_col]
    key = F.concat_ws(
        "|", F.lit(salt), *[F.col(c).cast("string") for c in keys]
    )
    bucket = (
        F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("long") % _BUCKETS
    )
    return joined.where(bucket.cast("double") < F.col("rate") * _BUCKETS)


def sample_per_group(
    df: DataFrame,
    group_cols: list[str] | str,
    k: int,
    key_cols: list[str] | None = None,
    salt: str = "",
) -> DataFrame:
    """Deterministic per-group reservoir: the ``k`` rows of each group
    with the smallest ``md5(salt || key)`` draw — a uniform-without-
    replacement sample that is REPRODUCIBLE (same salt ⇒ same sample on
    any cluster/partitioning; change the salt to redraw) and
    oracle-expressible, unlike ``rand()``-based sampling.

    This is the "inspect N examples per source/language/cluster" primitive
    every curation review loop needs, and the eval-set carve-out that must
    be stable across pipeline reruns.

    Scale shape: one hash-partition shuffle on the group key + a per-group
    top-k (``row_number`` over the draw order). Groups are typically many
    and the per-group heap is k-bounded; a single mega-group degenerates
    to that group's rows on one task — pair with ``skew_profile`` if group
    cardinality is suspect.
    """
    assert k >= 1
    groups = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    keys = key_cols or [c for c in df.columns if c not in groups]
    draw = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit(salt), *[F.col(c).cast("string") for c in keys]
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    from pyspark.sql import Window

    w = Window.partitionBy(*groups).orderBy(draw.asc(), *keys)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )
