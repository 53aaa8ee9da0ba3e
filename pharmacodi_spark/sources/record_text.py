"""Record-oriented flat-text source (SURVEY §2.1 S9): the Cellosaurus parser.

The reference (build_cellosaurus.py:45-63) reads the whole file into memory,
skips a 55-line header, splits on ``//`` entry delimiters, splits each line
on three spaces into (code, value), and group-concatenates repeated codes
with ``'|||'`` — fanned out over a multiprocessing.Pool (:56-58).

Spark-first: ``spark.read.text(..., wholetext=True)`` yields one row per
file (the reference's own read-whole-file semantics), then pure array
expressions split each file into entries and lines — ``split`` on the
delimiter line regex + ``posexplode`` twice. No windows, no
``monotonically_increasing_id`` ordering hazard, no Python in the data path.
Record assembly is groupBy(entry).pivot(code).agg (R6/A7).

Scale contract: parallelism is PER FILE — a directory/glob of record flat
files parses with one independent task per file and the entry/code fan-out
re-parallelizes immediately after the explode (the groupBy shuffles by
(file, entry_id, code)). Per-file memory is bounded by the file size, which
matches the inherent sequentiality of "entries are delimited by marker
lines": record flat files (Cellosaurus ~100 MB) are metadata-scale per file;
corpus scale comes from many files, not one monolith. Entry ids are
0-based per file (order of appearance within the file).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_MAX_LEN = (1 << 31) - 1  # slice() "rest of array" length


def parse_record_text(
    spark: SparkSession,
    path: str,
    header_lines: int = 55,
    codes: list[str] | None = None,
    include_file: bool = False,
) -> DataFrame:
    """Parse ``//``-delimited record flat file(s) into one wide row per entry.

    Returns columns: ``entry_id`` (0-based order of appearance *within each
    file*) + one column per 2-char code, values ``'|||'``-joined in line
    order (reference build_cellosaurus.py:26-30,58-61). ``codes`` pins the
    pivot columns (skips the distinct-values job and keeps the schema
    declared). ``include_file=True`` prepends the source file path column
    (``file``) — required to disambiguate entries when ``path`` is a glob or
    directory of multiple files.
    """
    files = spark.read.text(path, wholetext=True).select(
        F.input_file_name().alias("__file"), "value"
    )

    # skip header, split the body on exact delimiter lines ((?m)^//$ — the
    # full-line match the reference's `line == '//'` test implies)
    body_lines = F.slice(F.split("value", "\n"), header_lines + 1, _MAX_LEN)
    entries_arr = F.split(F.array_join(body_lines, "\n"), "(?m)^//$")
    entries = files.select(
        "__file", F.posexplode(entries_arr).alias("entry_id", "__etext")
    )

    # per-entry lines, in order; blank pieces around the consumed delimiter
    # lines drop out with the length filter below
    lines = entries.select(
        "__file",
        "entry_id",
        F.posexplode(F.split("__etext", "\n")).alias("__line_pos", "line"),
    )
    parsed = lines.select(
        "__file",
        "entry_id",
        "__line_pos",
        F.substring("line", 1, 2).alias("code"),
        F.regexp_replace("line", "^..   ", "").alias("val"),
    ).where(F.length("line") > 2)

    # deterministic in-entry order: sort values by line position before join
    per_code = parsed.groupBy("__file", "entry_id", "code").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__line_pos", "val"))),
                lambda s: s["val"],
            ),
            "|||",
        ).alias("joined")
    )
    grouped = per_code.groupBy("__file", "entry_id")
    piv = (grouped.pivot("code", codes) if codes else grouped.pivot("code")).agg(
        F.first("joined")
    )
    # entries that contain no code lines (e.g. the empty trailing piece after
    # the final delimiter) never reach per_code, so they emit no row — same
    # as the reference, which only materializes entries with parsed lines
    if include_file:
        return piv.withColumnRenamed("__file", "file")
    return piv.drop("__file")
