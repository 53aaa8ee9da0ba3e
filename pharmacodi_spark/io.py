"""Multi-format IO: load/save + glob-union readers (SURVEY §2.1 S1-S6, S10-S12).

The reference dispatches on file extension (read_pset.py:78-90), glob-unions
per-PSet `.jay` shards (combine_pset_tables.py:213-271), and writes `.jay`
memory-mapped files "for fast write to disk" (write_pset_table.py:34-39).

Spark-first mapping:
- one lazy ``load(spark, path, fmt)`` covering csv/csv.gz (codec transparent),
  parquet, json, text;
- glob-union = a single multi-path ``spark.read`` (one scan node, partition-
  parallel — NOT a loop of reads + union, which would defeat file pruning);
- `.jay` replaced by Parquet, the columnar mmap-equivalent that scales past
  one node; per-dataset sinks use ``partitionBy`` so downstream per-dataset
  reads prune partitions instead of regex-filtering file lists
  (combine_pset_tables.py:227-228).
"""

from __future__ import annotations

import os
import re
from collections.abc import Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pharmacodi_spark.barrier import stage_barrier

_EXT_FMT = [
    (re.compile(r"\.csv(\.gz)?$", re.I), "csv"),
    (re.compile(r"\.parquet$", re.I), "parquet"),
    (re.compile(r"\.json(\.gz)?$", re.I), "json"),
    (re.compile(r"\.txt$", re.I), "text"),
]


def infer_format(path: str) -> str:
    """Extension dispatch, as the reference's read_pset_file (read_pset.py:78-90)."""
    for pat, fmt in _EXT_FMT:
        if pat.search(path):
            return fmt
    raise ValueError(f"cannot infer format for {path}")


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` resolved through Hadoop — works for
    local paths AND hdfs:// / s3a:// URIs, unlike ``os.path`` which silently
    answers for the driver's local disk only."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def path_exists(spark: SparkSession, path: str) -> bool:
    """Filesystem-scheme-aware existence check (Hadoop FS API)."""
    fs, hpath = _hadoop_fs(spark, path)
    return bool(fs.exists(hpath))


def load(
    spark: SparkSession,
    path: str | list[str],
    fmt: str | None = None,
    schema: T.StructType | str | None = None,
    **options,
) -> DataFrame:
    """Lazy multi-format reader (S1).

    CSV defaults mirror the reference's readers: header row, the ``NA``
    null sentinel (polars ``null_values="NA"``, build_synonym_tables.py:37,153
    — and the NA-as-string pitfall noted at :97), schema inference only when
    no contract is given (read_pset.py:78-90 infers; our engine prefers
    explicit schemas so scans skip the inference pass at scale).

    Scale note: schemaless CSV/JSON inference reads the data TWICE (one
    inference pass, one real scan) — fine for metadata-scale sheets, wrong
    for corpus-scale inputs. Pass ``schema`` for anything large. A
    schemaless CSV/JSON read emits a warning rather than silently paying
    the double scan.
    """
    first = path if isinstance(path, str) else path[0]
    fmt = fmt or infer_format(first)
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    elif fmt in ("csv", "json"):
        import warnings

        warnings.warn(
            f"io.load({first!r}): schemaless {fmt} read infers types with a "
            "full extra pass over the data; pass schema=... for large inputs",
            stacklevel=2,
        )
    if fmt == "csv":
        opts = {"header": "true", "nullValue": "NA"}
        if schema is None:
            opts["inferSchema"] = "true"
        opts.update({k: str(v) for k, v in options.items()})
        reader = reader.options(**opts)
    elif options:
        reader = reader.options(**{k: str(v) for k, v in options.items()})
    paths = path if isinstance(path, list) else [path]
    return reader.format(fmt).load(paths)


def load_table_all_shards(
    spark: SparkSession,
    name: str,
    data_dir: str,
) -> DataFrame:
    """Glob-union loader (S3/S4): read every ``{dir}/*/*_{name}.parquet``
    shard as ONE scan, union-by-name with missing-column tolerance, dedupe.

    Re-expresses load_table / fread_table_for_all_psets
    (combine_pset_tables.py:213-271: glob → regex filter → rbind(force=True)
    → dedupe). ``rbind(force=True)`` ≡ ``unionByName(allowMissingColumns)``:
    all shards are read in one merged-schema parquet pass (missing columns
    become nulls), keeping a single partition-parallel scan node.
    """
    pattern = os.path.join(data_dir, "*", f"*_{name}.parquet")
    return spark.read.option("mergeSchema", "true").parquet(pattern).dropDuplicates()


def save(df: DataFrame, path: str) -> None:
    """Table sink (S10/S11/S12): overwrite ``path`` with parquet, which
    replaces `.jay` (write_pset_table.py:34-39). Partitioned, bucketed and
    sorted layouts go through ``save_canonical``."""
    df.write.mode("overwrite").format("parquet").save(path)


# Canonical physical layouts for the combine-phase output tables
# (write_pset_table.py:20-39 writes flat .jay files; at 100 TB each table
# gets a layout matched to its access pattern):
# - partition_by: the per-dataset access path (reads prune partitions)
# - bucket_by:    the hot join key (co-located joins, no shuffle)
# - sort_by:      within-bucket clustering (row-group stat pruning)
CANONICAL_LAYOUTS: dict[str, dict] = {
    "experiment": {
        "partition_by": ["dataset_id"],
        "bucket_by": (["cell_id"], 16),
        "sort_by": ["cell_id", "compound_id"],
    },
    "dose_response": {"bucket_by": (["experiment_id"], 16), "sort_by": ["experiment_id"]},
    "profile": {"bucket_by": (["experiment_id"], 16), "sort_by": ["experiment_id"]},
    "mol_cell": {"partition_by": ["dataset_id"], "sort_by": ["cell_id"]},
    "dataset_statistics": {"sort_by": ["dataset_id"]},
}


# Table formats the canonical sinks can target. "parquet" is the OSS-only
# default implemented here; "delta" / "iceberg" are the transactional
# formats a production deployment slots in — the write/merge call shapes
# are wired, and the format libraries are detected at call time (this
# container ships neither, so the paths raise a clear setup error rather
# than import at module load).
SUPPORTED_TABLE_FORMATS = ("parquet", "delta", "iceberg")


def _require_table_format(spark: SparkSession, table_format: str) -> None:
    """Fail fast with setup instructions when a transactional format is
    requested but its library/extension isn't on this session."""
    if table_format == "parquet":
        return
    if table_format == "delta":
        try:
            import delta  # noqa: F401  (delta-spark, OSS)
        except ImportError as ex:
            raise NotImplementedError(
                "table_format='delta' needs the OSS delta-spark package and a "
                "session built with spark.sql.extensions="
                "io.delta.sql.DeltaSparkSessionExtension and "
                "spark.sql.catalog.spark_catalog="
                "org.apache.spark.sql.delta.catalog.DeltaCatalog"
            ) from ex
        return
    if table_format == "iceberg":
        exts = spark.conf.get("spark.sql.extensions", "") or ""
        if "IcebergSparkSessionExtensions" not in exts:
            raise NotImplementedError(
                "table_format='iceberg' needs the OSS iceberg-spark-runtime "
                "jar and a session built with spark.sql.extensions="
                "org.apache.iceberg.spark.extensions."
                "IcebergSparkSessionExtensions plus an Iceberg catalog "
                "(spark.sql.catalog.<name>=org.apache.iceberg.spark."
                "SparkCatalog)"
            )
        return
    raise ValueError(
        f"unknown table_format {table_format!r}; "
        f"supported: {SUPPORTED_TABLE_FORMATS}"
    )


def canonical_table_name(table: str, base_dir: str) -> str:
    """Catalog identifier for a canonical bucketed table: the logical name
    namespaced by a digest of its base directory, so the same logical table
    written to two locations gets two catalog entries instead of silently
    re-pointing one global name."""
    import hashlib

    digest = hashlib.md5(os.path.abspath(base_dir).encode()).hexdigest()[:8]
    return f"{table}_{digest}"


def save_canonical(
    df: DataFrame,
    table: str,
    base_dir: str,
    layout: dict | None = None,
    table_format: str = "parquet",
) -> str:
    """Write a combine-phase output table in its canonical layout
    (CANONICAL_LAYOUTS, overridable). Bucketed layouts go through
    ``saveAsTable`` (bucket metadata lives in the catalog — Spark's
    requirement for shuffle-free bucketed joins); plain layouts are
    path-based parquet. Unknown tables default to a flat sorted write.

    ``table_format`` switches the sink to a transactional format ("delta" /
    "iceberg" — detected at call time, see SUPPORTED_TABLE_FORMATS). Those
    formats manage file layout themselves and don't support Spark-side
    ``bucketBy``, so a bucketed layout degrades to partition + in-file sort
    there (their native clustering — OPTIMIZE ZORDER / rewrite_data_files —
    is the analog of operators/clustering.py::zorder-style interleaving).

    Returns the read handle: for bucketed layouts the (base_dir-namespaced,
    see ``canonical_table_name``) catalog identifier for ``spark.table``;
    for path layouts the output path for ``spark.read.parquet``."""
    if table_format not in SUPPORTED_TABLE_FORMATS:
        raise ValueError(
            f"unknown table_format {table_format!r}; "
            f"supported: {SUPPORTED_TABLE_FORMATS}"
        )
    _require_table_format(df.sparkSession, table_format)
    spec = layout if layout is not None else CANONICAL_LAYOUTS.get(table, {})
    sort_by = spec.get("sort_by")
    out_path = os.path.join(base_dir, table)
    if table_format != "parquet":
        if sort_by:
            df = df.sortWithinPartitions(*sort_by)
        writer = df.write.mode("overwrite").format(table_format)
        if spec.get("partition_by"):
            writer = writer.partitionBy(*spec["partition_by"])
        writer.save(out_path)
        return out_path
    if spec.get("bucket_by"):
        writer = df.write.mode("overwrite").format("parquet")
        if spec.get("partition_by"):
            writer = writer.partitionBy(*spec["partition_by"])
        cols, n = spec["bucket_by"]
        writer = writer.bucketBy(n, *cols)
        if sort_by:
            writer = writer.sortBy(*sort_by)  # in-bucket clustering
        ident = canonical_table_name(table, base_dir)
        writer.option("path", out_path).saveAsTable(ident)
        return ident
    if sort_by:
        df = df.sortWithinPartitions(*sort_by)
    writer = df.write.mode("overwrite").format("parquet")
    if spec.get("partition_by"):
        writer = writer.partitionBy(*spec["partition_by"])
    writer.save(out_path)
    return out_path


def merge_upsert(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_cols: list[str],
    partition_by: str | None = None,
    table_format: str = "parquet",
) -> None:
    """Upsert (MERGE) into a keyed table: rows of ``updates`` replace target
    rows with the same ``key_cols``; new keys append. The reference's write
    path is overwrite-whole-table (write_pset_table.py) — this is its
    incremental counterpart.

    ``table_format="parquet"`` (default) is the OSS-only stand-in
    implemented below; ``"delta"`` routes to the real transactional MERGE
    (DeltaTable.merge — ACID, no read-modify-write race), detected at call
    time. Iceberg's MERGE INTO needs a catalog table identifier rather than
    a path, so it is out of this path-based helper's scope (use
    ``spark.sql("MERGE INTO cat.tbl ...")`` directly there).

    An absent parquet target is seeded: ``updates`` is written as the
    table (partitioned by ``partition_by`` when set), so a stream's first
    micro-batch needs no separate write path.

    Scale path: with ``partition_by`` + dynamic partition overwrite, ONLY
    partitions containing updated keys are read, merged, and rewritten —
    touch 1 of 10 000 partitions and 9 999 stay as-is. Partition values
    match null-safely, so the null partition merges like any other.
    Without ``partition_by`` the whole target rewrites (documented cost);
    the transactional formats additionally prune by file-level key stats.
    The merged frame is pinned (``stage_barrier``) before the write
    because Spark cannot overwrite files that are still an input of the
    running plan."""
    if table_format == "delta":
        _require_table_format(spark, "delta")
        from delta.tables import DeltaTable  # gated: delta-spark optional

        cond = " AND ".join(f"t.{k} <=> u.{k}" for k in key_cols)
        (
            DeltaTable.forPath(spark, path)
            .alias("t")
            .merge(updates.alias("u"), cond)
            .whenMatchedUpdateAll()
            .whenNotMatchedInsertAll()
            .execute()
        )
        return
    if table_format != "parquet":
        raise ValueError(
            f"merge_upsert supports table_format 'parquet' or 'delta', "
            f"got {table_format!r}"
        )
    # Hadoop-FS existence check, not os.path: on hdfs:// or s3a:// the
    # local-disk answer is always False, which would make every call after
    # the first fail with errorifexists instead of merging.
    if not path_exists(spark, path):
        writer = updates.write
        if partition_by:
            writer = writer.partitionBy(partition_by)
        writer.parquet(path)
        return
    target = spark.read.parquet(path)
    if partition_by:
        new_parts = updates.select(partition_by).distinct()
        if partition_by in key_cols:
            # partition value is part of the key → a key can never move
            # between partitions; the updates' own partition values are the
            # complete affected set (no target scan needed to find them).
            affected_parts = new_parts
        else:
            # a key's partition value may CHANGE in this batch; the key's
            # old row lives in a partition the updates never mention. Find
            # those source partitions by semi-joining the target on the key
            # columns, so the stale row is read (and dropped by the
            # anti-join below) rather than left behind as a duplicate.
            old_parts = (
                target.join(
                    F.broadcast(updates.select(*key_cols).distinct()),
                    key_cols,
                    "left_semi",
                )
                .select(partition_by)
                .distinct()
            )
            affected_parts = new_parts.unionByName(old_parts).distinct()
        affected = _join_partitions(target, affected_parts, partition_by, "left_semi")
        keep = affected.join(
            updates.select(*key_cols).distinct(), key_cols, "left_anti"
        )
        merged = stage_barrier(
            keep.unionByName(updates), name="merge-upsert-partitions"
        )
        # Dynamic overwrite only rewrites partitions PRESENT in `merged`: a
        # source partition whose every row belonged to moved keys ends up
        # with zero surviving rows, is absent from the write, and would keep
        # its stale files. Find those before the overwrite (collect is
        # bounded: distinct partition values of one batch) and drop their
        # directories afterwards. Evaluated pre-write so nothing re-reads
        # the target after its files are replaced.
        emptied = (
            _join_partitions(
                affected_parts,
                merged.select(partition_by).distinct(),
                partition_by,
                "left_anti",
            )
            .select(F.col(partition_by).cast("string"))
            .collect()
        )
        # writer-scoped dynamic overwrite: the session conf stays untouched,
        # so concurrent writers on the same session never see the flip
        (
            merged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(partition_by)
            .parquet(path)
        )
        if emptied:
            fs, _ = _hadoop_fs(spark, path)
            jvm = spark._jvm
            # Spark's own directory name for a partition value: it escapes
            # "/" and "=" and names the null partition
            # __HIVE_DEFAULT_PARTITION__
            part_dir_name = (
                jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
                .getPartitionPathString
            )
            for row in emptied:
                part_dir = jvm.org.apache.hadoop.fs.Path(
                    f"{path}/{part_dir_name(partition_by, row[0])}"
                )
                if fs.exists(part_dir):
                    fs.delete(part_dir, True)
    else:
        keep = target.join(updates.select(*key_cols).distinct(), key_cols, "left_anti")
        merged = stage_barrier(keep.unionByName(updates), name="merge-upsert")
        merged.write.mode("overwrite").parquet(path)


def _join_partitions(
    df: DataFrame, parts: DataFrame, col: str, how: str
) -> DataFrame:
    """``df`` semi/anti-joined to the partition values in ``parts`` on
    ``col``, null-safely: ``=`` never matches the null partition, which
    would leave it out of a merge and then overwrite it with only the
    update rows."""
    vals = F.broadcast(parts.select(F.col(col).alias("__part")))
    return df.join(vals, df[col].eqNullSafe(vals["__part"]), how)


def write_batch_partition(df: DataFrame, path: str, batch_id: int) -> None:
    """Write ``df`` as the ``batch_id=N`` partition of the table at
    ``path`` — the per-micro-batch state write of the streaming twins. A
    replayed batch REWRITES its own partition with identical content
    instead of appending a duplicate, so the sink is replay-idempotent by
    construction.

    Overwrite mode is scoped to THIS writer via
    ``.option("partitionOverwriteMode", "dynamic")`` — never by mutating
    session conf, which would leak dynamic semantics into any concurrent
    write in the same SparkSession mid-batch (ADVICE r6)."""
    (
        df.withColumn("batch_id", F.lit(int(batch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(path)
    )


def read_pset_catalog(
    spark: SparkSession,
    pset_dir: str,
    schemas: Mapping[str, T.StructType | str] | None = None,
) -> dict[str, DataFrame]:
    """Directory→catalog scan (S2): list a PSet export directory, split each
    filename on ``$`` into its slot path, strip ``.*@|.csv(.gz)?$|.parquet$|
    .txt$`` (read_pset.py:40-74), and return ``{'slot$sub': DataFrame}``.

    The reference eagerly reads every file through a swifter-parallel pandas
    apply (read_pset.py:63-64); here the catalog holds *lazy* DataFrames —
    nothing is read until a downstream action, and Spark parallelizes each
    file scan itself (SURVEY §2.10 X1).

    ``schemas`` maps slot keys (``'sensitivity$info'``) to declared
    contracts (``StructType`` or DDL string — the schema.py convention):
    slots with a contract skip CSV/JSON type inference entirely, so the
    scan reads the data once (VERDICT r6 item 8 — without this the
    engine's own double-scan warning fires on its own catalog reads).
    Unknown slots fall back to inference.
    """
    schemas = schemas or {}
    catalog: dict[str, DataFrame] = {}
    for fname in sorted(os.listdir(pset_dir)):
        if fname.startswith("."):
            continue  # hidden-file filter, read_pset.py:48
        base = re.sub(r"@.*$|\.csv(\.gz)?$|\.parquet$|\.txt$", "", fname)
        key = base  # "$"-separated slot path, e.g. "sensitivity$info"
        catalog[key] = load(
            spark,
            os.path.join(pset_dir, fname),
            schema=schemas.get(key),
        )
    return catalog
