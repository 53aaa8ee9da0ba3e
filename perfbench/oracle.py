"""Expected result digests from the engine's DuckDB oracle SQL.

The oracle runs once per input fingerprint on the unpermuted base tables; the
digests are cached next to them. Because the run seed only reorders and
re-splits rows, every seeded input must reproduce the same digests: a
mismatch is either a wrong result or an input-order dependence, and both are
engine defects."""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

import duckdb

from datagen import TABLES
from measure import result_digest


def oracle_digests(root: Path, base_dir: Path, names: list[str]) -> dict[str, str]:
    sys.path.insert(0, os.fspath(root))
    from pharmacodi_spark.plans import oracle_queries

    sql = oracle_queries()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{base_dir / t}.parquet')")
    out = {}
    for name in names:
        rel = con.execute(sql[name])
        cols = [d[0] for d in rel.description]
        out[name] = result_digest(cols, rel.fetchall())
    return out


def cached_digests(root: Path, cache: Path, base_dir: Path, fp: str, names: list[str]) -> dict[str, str]:
    path = cache / f"oracle-{fp}.json"
    have = json.loads(path.read_text()) if path.exists() else {}
    missing = [n for n in names if n not in have]
    if missing:
        have.update(oracle_digests(root, base_dir, missing))
        tmp = path.with_suffix(".tmp")
        tmp.write_text(json.dumps(have, indent=1, sort_keys=True))
        tmp.replace(path)
    return {n: have[n] for n in names}
