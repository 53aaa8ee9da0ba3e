"""Stage barriers for multi-stage cascades.

Every multi-stage E2E in this engine (curation_pipeline, token_offsets /
surrogate_key's range-partition pinning, the connected-components and
PageRank loops, the ingest gauntlet, merge_upsert, the streaming twins)
pins its stage boundaries by materializing a DataFrame — survivor-id
sets, per-partition offset tables, frontier frames. The materialization
serves two purposes:

1. **plan containment** — lazily composing stages re-expands every
   upstream stage at each downstream reference (the round-5 curation
   cascade compiled to 116 scans / 44 sort-merge joins before barriers);
2. **evaluation pinning** — ``repartitionByRange`` samples its boundaries
   per physical evaluation, so a frame consumed twice MUST be frozen once
   or derived ids collide (operators/keys.py correctness note).

Where a pin lives is ONE deployment setting, the Spark conf
``spark.pharmacodi.barrierDir``, read at every pin:

- absent (default): ``localCheckpoint()`` — truncates lineage, stores
  unreplicated executor-local blocks. Fast and correct on a single JVM
  and on stable clusters, but a lost executor loses its blocks with NO
  recompute path (lineage was truncated).
- present: the pin is written as parquet under that root and read back.
  The read-back is a fresh scan, so lineage is equally truncated and the
  plan equally contained, but the blocks live in the job's scratch
  filesystem (HDFS/S3/NFS at cluster scale) — executor loss is
  recoverable by re-reading. This is the paper's on-disk hand-off between
  phases, applied to every stage boundary.

Paths are joined with "/" so object-store URIs (s3://, hdfs://) pass
through unchanged. Barrier files are job scratch: the engine never
deletes them — cluster jobs point ``barrierDir`` at a TTL'd scratch
prefix, tests at ``tmp_path``.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame

BARRIER_DIR_CONF = "spark.pharmacodi.barrierDir"


def stage_barrier(df: DataFrame, name: str, eager: bool = True) -> DataFrame:
    """Materialize ``df`` as a stage barrier and return the pinned frame.

    See the module docstring for where the pin lives. ``name`` labels the
    scratch directory for operability (which stage wrote it); a uuid
    suffix keeps concurrent jobs and retries from colliding.

    ``eager=False`` (r13) defers a local pin's materialization to the
    frame's FIRST action — lineage is truncated and blocks are stored
    exactly as in the eager form, but the standalone checkpoint job
    disappears into the first consumer's job (a durable pin is always
    written at once). Use it ONLY where the first consumption is a
    synchronous driver-side action (e.g. the CC loop's pin-then-count) or
    where a concurrent double-compute of the subplan would be cheap and
    deterministic: two jobs racing to materialize a lazy checkpoint may
    each compute a partition before one block wins, so a frame whose
    physical evaluation must happen exactly once (repartitionByRange id
    derivations) or whose subplan is expensive must stay eager."""
    spark = df.sparkSession
    root = spark.conf.get(BARRIER_DIR_CONF, None)
    if not root:
        return df.localCheckpoint(eager=eager)
    path = f"{root.rstrip('/')}/{name}-{uuid.uuid4().hex}"
    df.write.mode("error").parquet(path)
    return spark.read.parquet(path)
