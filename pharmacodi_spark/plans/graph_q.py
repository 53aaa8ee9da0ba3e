"""Graph rows: label propagation and integer PageRank (operators/graph)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pharmacodi_spark.plans.queries import q, _t


def _pagerank_sql(iters: int = 10) -> str:
    """Unrolled integer-PageRank oracle: DuckDB's recursive CTEs disallow
    aggregation in the recursive term, so the fixed iteration count is
    unrolled as chained CTEs — same integer algebra as
    operators/graph.py::pagerank_int."""
    base = "(SELECT (15000000000 // (100 * count(*))) FROM nodes)"
    parts = [
        "edges AS (SELECT DISTINCT o_custkey % 50 AS src, "
        "o_orderkey % 50 AS dst FROM orders)",
        "nodes AS (SELECT DISTINCT v FROM "
        "(SELECT src AS v FROM edges UNION ALL SELECT dst FROM edges))",
        "outdeg AS (SELECT src, count(*) AS od FROM edges GROUP BY src)",
        "r0 AS (SELECT v, (SELECT 1000000000 // count(*) FROM nodes) AS r "
        "FROM nodes)",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""r{i} AS (
      SELECT n.v,
             CAST({base} + (85 * coalesce(s.s, 0)) // 100 AS BIGINT) AS r
      FROM nodes n LEFT JOIN (
        SELECT e.dst AS v, sum(r.r // o.od) AS s
        FROM edges e
        JOIN r{i - 1} r ON e.src = r.v
        JOIN outdeg o ON e.src = o.src
        GROUP BY e.dst
      ) s ON n.v = s.v)"""
        )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"\n    SELECT CAST(v AS BIGINT) AS v, CAST(r AS BIGINT) AS r "
        f"FROM r{iters}"
    )


def _lpa_sql(iters: int = 5) -> str:
    """Unrolled deterministic-LPA oracle (same unroll rationale as
    _pagerank_sql)."""
    parts = [
        "edges0 AS (SELECT DISTINCT o_custkey % 50 AS src, "
        "o_orderkey % 50 AS dst FROM orders)",
        "ue AS (SELECT DISTINCT src, dst FROM (SELECT src, dst FROM edges0 "
        "UNION ALL SELECT dst, src FROM edges0))",
        "nodes AS (SELECT DISTINCT src AS v FROM ue)",
        "l0 AS (SELECT v, v AS label FROM nodes)",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""l{i} AS (
      SELECT n.v, coalesce(m.label, n.v) AS label
      FROM nodes n LEFT JOIN (
        SELECT v, label FROM (
          SELECT e.src AS v, l.label, count(*) AS c,
                 row_number() OVER (PARTITION BY e.src
                                    ORDER BY count(*) DESC, l.label) AS rn
          FROM ue e JOIN l{i - 1} l ON e.dst = l.v
          GROUP BY e.src, l.label
        ) WHERE rn = 1
      ) m ON n.v = m.v)"""
        )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"\n    SELECT CAST(v AS BIGINT) AS v, "
        f"CAST(label AS BIGINT) AS label FROM l{iters}"
    )


@q("label_propagation", _lpa_sql(5))
def label_propagation_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic label-propagation communities, 5 synchronous steps
    (operators/graph.py::label_propagation) over the undirected closure of
    the 50-node orders graph: each node adopts its neighbors' most frequent
    label, ties to the smaller label — the tie-break that turns
    order-dependent LPA into a reproducible fixpoint trajectory, matched
    step-for-step by the oracle's unrolled CTE chain."""
    from pharmacodi_spark.operators.graph import label_propagation

    o = _t(spark, sf_dir, "orders")
    edges = o.select(
        (F.col("o_custkey") % 50).alias("src"),
        (F.col("o_orderkey") % 50).alias("dst"),
    ).distinct()
    out = label_propagation(edges, iterations=5)
    return out.select(
        F.col("v").cast("long").alias("v"),
        F.col("label").cast("long").alias("label"),
    )


@q("pagerank_int", _pagerank_sql(10))
def pagerank_int_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact PageRank, 10 iterations (operators/graph.py::
    pagerank_int) over a 50-node functional graph derived from orders
    (src = custkey mod 50 → dst = orderkey mod 50, deduped). All rank mass
    stays in scaled integers — contribution = r div outdeg, damping =
    (85·Σ) div 100 — so every iteration is exact floor-division algebra
    and the 10-step fixpoint matches the oracle's unrolled CTE chain
    bit-for-bit. The iterative-join shape (edges⋈ranks on src → groupBy
    dst) is Pregel's; lineage is truncated with localCheckpoint every 4
    iterations."""
    from pharmacodi_spark.operators.graph import pagerank_int

    o = _t(spark, sf_dir, "orders")
    edges = o.select(
        (F.col("o_custkey") % 50).alias("src"),
        (F.col("o_orderkey") % 50).alias("dst"),
    ).distinct()
    out = pagerank_int(edges, iterations=10)
    return out.select(
        F.col("v").cast("long").alias("v"), F.col("r").cast("long").alias("r")
    )


def _pagerank_dangling_sql(iters: int = 6) -> str:
    """Unrolled oracle for the dangling-redistribution model: same integer
    algebra as _pagerank_sql plus the per-step dangling share
    D div N inside the damped term. Graph: src = custkey mod 50 →
    dst = orderkey mod 55, so nodes 50-54 are guaranteed pure sinks
    (never a src) and the dangling term carries real mass.

    CTEs are ``AS MATERIALIZED`` (r13): each ``r{{i}}`` references
    ``r{{i-1}}`` twice (join + dangling subquery), so DuckDB's default
    inlining re-evaluated the chain 2^iters times (same defect as the
    host-rank oracle; rows identical either way)."""
    n_nodes = "(SELECT count(*) FROM nodes)"
    base = "(SELECT (15000000000 // (100 * count(*))) FROM nodes)"
    parts = [
        "edges AS MATERIALIZED (SELECT DISTINCT o_custkey % 50 AS src, "
        "o_orderkey % 55 AS dst FROM orders)",
        "nodes AS MATERIALIZED (SELECT DISTINCT v FROM "
        "(SELECT src AS v FROM edges UNION ALL SELECT dst FROM edges))",
        "outdeg AS MATERIALIZED (SELECT src, count(*) AS od FROM edges GROUP BY src)",
        "r0 AS MATERIALIZED (SELECT v, (SELECT 1000000000 // count(*) FROM nodes) AS r "
        "FROM nodes)",
    ]
    for i in range(1, iters + 1):
        dang = (
            f"(SELECT coalesce(sum(r2.r), 0) FROM r{i - 1} r2 "
            f"WHERE r2.v NOT IN (SELECT src FROM outdeg))"
        )
        parts.append(
            f"""r{i} AS MATERIALIZED (
      SELECT n.v,
             CAST({base}
                  + (85 * (coalesce(s.s, 0) + {dang} // {n_nodes})) // 100
                  AS BIGINT) AS r
      FROM nodes n LEFT JOIN (
        SELECT e.dst AS v, sum(r.r // o.od) AS s
        FROM edges e
        JOIN r{i - 1} r ON e.src = r.v
        JOIN outdeg o ON e.src = o.src
        GROUP BY e.dst
      ) s ON n.v = s.v)"""
        )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"\n    SELECT CAST(v AS BIGINT) AS v, CAST(r AS BIGINT) AS r "
        f"FROM r{iters}"
    )


@q("pagerank_dangling", _pagerank_dangling_sql(6))
def pagerank_dangling_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank with dangling-mass redistribution (operators/graph.py::
    pagerank_int(dangling='redistribute')), 6 iterations over a graph with
    five guaranteed sinks (dst = orderkey mod 55 vs src = custkey mod 50).
    Each step folds Σ_{sinks} r div N into the damped term as exact
    integer algebra, conserving total mass to within N floor-roundings —
    value-checked against the unrolled-CTE oracle including the in-plan
    1-row dangling aggregate (broadcast, no per-iteration driver action).
    Convergence early-stop (tol) is pytest-proven (a fixed-point trajectory
    cut short is not oracle-comparable to a fixed iteration count)."""
    from pharmacodi_spark.operators.graph import pagerank_int

    o = _t(spark, sf_dir, "orders")
    edges = o.select(
        (F.col("o_custkey") % 50).alias("src"),
        (F.col("o_orderkey") % 55).alias("dst"),
    ).distinct()
    out = pagerank_int(edges, iterations=6, dangling="redistribute")
    return out.select(
        F.col("v").cast("long").alias("v"), F.col("r").cast("long").alias("r")
    )
