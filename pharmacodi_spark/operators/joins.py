"""Join operators (SURVEY §2.3).

The reference's joins are all hash left/inner joins on small keyed dims
(combine_pset_tables.py:296-330, utilities.py:54-83). Spark-first policy:
dims broadcast (no shuffle of the fact side), update-joins become pure
join+coalesce projections (no in-place mutation), and the de-facto semi/anti
patterns (J4 delete-unjoined, J9 null-filter) use real ``left_semi`` /
``left_anti`` joins.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def broadcast_left_join(
    df: DataFrame, dim: DataFrame, on: str | list[str]
) -> DataFrame:
    """J1/J3: enrich a fact with dim attributes; dim side broadcast so the
    fact never shuffles (reference keyed joins, build_experiment_tables.py:
    68-69, combine_pset_tables.py:296-330)."""
    return df.join(F.broadcast(dim), on=on, how="left")


def update_join(
    df: DataFrame,
    patch: DataFrame,
    on: str | list[str],
    update_cols: dict[str, str],
) -> DataFrame:
    """J5/J6: overwrite columns from a joined table's namespace —
    ``df[:, update(c=g.c), join(patch)]`` (utilities.py:54-83 and the
    build_meta_tables.py:74-99,179-225 cascades; conditional variant
    :199-207).

    ``update_cols`` maps target column in ``df`` → source column in
    ``patch``. Unmatched rows keep the old value (``coalesce(new, old)``);
    a target not yet in ``df`` is null on them. Pure
    transform: Tungsten fuses the join and projection into one stage — the
    reference's by-reference mutation buys nothing here.
    """
    on_cols = [on] if isinstance(on, str) else list(on)
    src_cols = set(update_cols.values())
    patch_proj = patch.select(
        *on_cols, *[F.col(s).alias(f"__patch_{s}") for s in src_cols]
    ).dropDuplicates(on_cols)
    joined = df.join(F.broadcast(patch_proj), on=on_cols, how="left")
    for target, src in update_cols.items():
        new = F.col(f"__patch_{src}")
        if target in df.columns:
            new = F.coalesce(new, F.col(target))
        joined = joined.withColumn(target, new)
    return joined.drop(*[f"__patch_{s}" for s in src_cols])


def lookup_map(df: DataFrame, col: str, mapping: dict, out_col: str | None = None) -> DataFrame:
    """J11: dict-lookup applied to a column (``dataset_map[x]`` .apply,
    build_synonym_tables.py:74-82); unmapped values become null. For
    literal dicts this folds to a CASE WHEN chain — fully codegen'd, no
    join, no UDF."""
    out_col = out_col or col
    expr: Column = F.lit(None)
    items = list(mapping.items())
    if items:
        expr = F.when(F.col(col) == F.lit(items[0][0]), F.lit(items[0][1]))
        for k, v in items[1:]:
            expr = expr.when(F.col(col) == F.lit(k), F.lit(v))
        expr = expr.otherwise(F.lit(None))
    return df.withColumn(out_col, expr)


def clamp(df: DataFrame, col: str, upper: float | None = None) -> DataFrame:
    """P8: conditional-update clamp — the IC50 ≤ 1e54 overflow guard
    (combine_pset_tables.py:173) as ``least``."""
    c = F.col(col)
    if upper is not None:
        c = F.least(c, F.lit(upper))
    return df.withColumn(col, c)


# Join modes where salting the left key + replicating the right side keeps
# the result row-identical to the plain join. right/full outer do NOT: each
# unmatched right row would surface once per salt replica.
_SALT_SAFE_HOW = {"inner", "left", "left_outer", "leftouter", "left_semi",
                  "leftsemi", "semi", "left_anti", "leftanti", "anti"}


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant shuffle join: salt the (skewed) left side's key with a
    random shard in [0, salts), replicate the right side once per shard, and
    equi-join on (key, salt).

    When to use: a handful of hot keys dominate a shuffle join and AQE's
    skew-join splitting can't help — e.g. the build side of one hot key
    still exceeds an executor, or the join below an aggregation pins
    partitioning. Each hot key's rows spread over ``salts`` tasks; the cost
    is a ``salts``× replication of the right side, so keep the right side
    the smaller input (but too big to broadcast outright, else just
    broadcast it). AQE's runtime skew handling (session default on) covers
    the milder cases without any replication — reach for this only when the
    skew is structural and known.

    ``F.rand`` is seeded per-partition deterministically here (seed=42) so
    results are reproducible run-to-run.

    Only ``inner``/``left``/``left_semi``/``left_anti`` are supported: the
    right side is replicated once per salt, so ``right``/``full`` outer
    joins would emit each unmatched right row ``salts`` times — different
    rows from the plain join. Those modes raise instead of silently
    diverging.
    """
    if how not in _SALT_SAFE_HOW:
        raise ValueError(
            f"salted_join supports how in {sorted(_SALT_SAFE_HOW)}; got "
            f"{how!r} (right/full outer would duplicate unmatched right "
            "rows once per salt replica)"
        )
    keys = [on] if isinstance(on, str) else list(on)
    salt = (F.rand(seed=42) * salts).cast("int")
    l = left.withColumn("__salt", salt)
    r = right.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salts - 1)))
    )
    out = l.join(r, on=keys + ["__salt"], how=how)
    return out.drop("__salt")


def auto_salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    how: str = "inner",
    target_rows_per_task: int = 1_000_000,
    max_salts: int = 64,
) -> DataFrame:
    """Diagnose-then-act skew join: profile the left side's key with
    :func:`pharmacodi_spark.operators.profile.skew_profile`, and pick the
    physical strategy from the measurement —

    - every heavy hitter fits one task (``salt_factor == 1``) → plain
      equi-join, zero overhead;
    - otherwise → :func:`salted_join` with ``salts`` = the profiled
      maximum salt factor (capped at ``max_salts`` — beyond that the
      right-side replication cost dominates and the caller should
      restructure instead).

    The profile collects at most 10 rows (bounded driver traffic:
    the decision needs only the HEAVIEST keys — if the worst key fits a
    task, so does every other). For the supported modes (inner / left /
    left_semi / left_anti) result rows are identical to the plain join —
    salting only re-buckets the shuffle; the oracle-gated
    ``auto_salted_join_equiv`` certifies that. ``right``/``full`` outer are
    rejected up front (see :func:`salted_join`) — rejected *before* the
    profile runs, so the error does not depend on the data.
    """
    from pharmacodi_spark.operators.profile import skew_profile

    if how not in _SALT_SAFE_HOW:
        raise ValueError(
            f"auto_salted_join supports how in {sorted(_SALT_SAFE_HOW)}; "
            f"got {how!r} — right/full outer joins cannot be salted without "
            "duplicating unmatched right rows; use a plain join"
        )

    prof = skew_profile(
        left, on, top_k=10, target_rows_per_task=target_rows_per_task
    ).collect()
    worst = max((r["salt_factor"] for r in prof), default=1)
    if worst <= 1:
        return left.join(right, on, how)
    return salted_join(left, right, on, salts=min(worst, max_salts), how=how)
