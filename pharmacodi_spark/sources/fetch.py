"""Bulk remote-file fetch + page-table scrape (SURVEY §2.1 S8, §2.10 X6).

The reference shells out to ``wget``/``rsync`` for dataset downloads
(download_psets.py:22-24) and drives a Selenium browser to scrape a
JS-rendered annotation table (get_gene_targets.py:44-76).  Both were
declared out-of-engine in SURVEY — this module closes them the same way
the API connector closed X4/X5: the TRANSPORT is an injected callable
(tests and CI pass fixtures; production passes urllib/requests/boto3 or a
headless-browser ``page_source`` getter), while the orchestration —
manifest partitioning, retries, checksum validation, staging layout, row
extraction — is real Spark dataflow.

Scale story (the reason S8 belongs in-engine at 100 TB): a driver-side
wget loop downloads a corpus one file at a time; here the MANIFEST is a
DataFrame and the fetch runs inside ``mapInPandas`` on the executors —
1000 workers pulling shards concurrently into shared storage, with the
per-file report (bytes, sha256, ok) coming back as a DataFrame to join
against the manifest for the retry/audit loop.
"""

from __future__ import annotations

import hashlib
import os
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame

from pharmacodi_spark.sources.api import MAX_RETRIES

FETCH_REPORT_SCHEMA = (
    "relpath string, n_bytes long, sha256 string, ok boolean, err string"
)

SCRAPE_SCHEMA = "url string, row_idx long, cells array<string>"


def fetch_manifest(
    manifest: DataFrame,
    fetcher: Callable[[str], bytes],
    dest_dir: str,
    url_col: str = "url",
    relpath_col: str = "relpath",
    checksum_col: str | None = None,
) -> DataFrame:
    """S8 — distributed bulk download: for every manifest row, call the
    injected ``fetcher(url) -> bytes`` on an executor, write the payload
    under ``dest_dir/relpath`` (shared storage at cluster scale), and
    report ``(relpath, n_bytes, sha256, ok, err)``.

    If ``checksum_col`` names a manifest column, the downloaded sha256 is
    validated against it and a mismatch marks ``ok = false`` (file is
    still staged for inspection).  Failed fetches (after ``MAX_RETRIES``)
    report ``ok = false`` with the error string instead of failing the
    job — the caller anti-joins ``ok`` rows against the manifest for the
    retry loop (ref behavior: wget -c resumes; here: re-run on the
    failed-rows manifest).
    """
    cols = [url_col, relpath_col] + ([checksum_col] if checksum_col else [])
    slim = manifest.select(*cols)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            # positional lists, not itertuples: pandas mangles column names
            # that aren't Python identifiers into _1/_2 attributes
            wants = (
                pdf[checksum_col].tolist()
                if checksum_col
                else [None] * len(pdf)
            )
            for url, rel, want in zip(
                pdf[url_col].tolist(), pdf[relpath_col].tolist(), wants
            ):
                payload, err = None, None
                for _attempt in range(MAX_RETRIES):
                    try:
                        payload = fetcher(url)
                        err = None
                        break
                    except Exception as exc:  # noqa: BLE001 — retry, then report
                        err = f"{type(exc).__name__}: {exc}"
                if payload is None:
                    out.append((rel, 0, None, False, err))
                    continue
                # A manifest is DATA, not trusted config: a '../..'-style or
                # absolute relpath must not escape the staging dir and
                # overwrite arbitrary worker paths (ADVICE r6).
                root = os.path.realpath(dest_dir)
                path = os.path.realpath(os.path.join(dest_dir, rel))
                if path != root and not path.startswith(root + os.sep):
                    out.append((rel, 0, None, False, "bad relpath"))
                    continue
                os.makedirs(os.path.dirname(path) or dest_dir, exist_ok=True)
                with open(path, "wb") as f:
                    f.write(payload)
                digest = hashlib.sha256(payload).hexdigest()
                ok = want is None or digest == want
                out.append(
                    (rel, len(payload), digest, bool(ok),
                     None if ok else "checksum mismatch")
                )
            yield pd.DataFrame(
                out, columns=["relpath", "n_bytes", "sha256", "ok", "err"]
            )

    return slim.mapInPandas(run, schema=FETCH_REPORT_SCHEMA)


def scrape_tables(
    pages: DataFrame,
    fetcher: Callable[[str], str],
    url_col: str = "url",
) -> DataFrame:
    """X6 — page-table scrape: for every URL, call the injected
    ``fetcher(url) -> html`` (production: a headless browser's rendered
    ``page_source`` — the reference's Selenium loop,
    get_gene_targets.py:44-76; tests: canned HTML) and extract table rows
    as ``(url, row_idx, cells)``.

    Parsing is regex-based over the RENDERED html — the same contract the
    reference relies on — and runs executor-side in the same batch as the
    fetch, so page bodies never move to the driver.  Downstream typing is
    ordinary dataflow: ``F.element_at(cells, i)`` + casts, then the
    harmonize/FK machinery.
    """
    import re

    rx_row = re.compile(r"<tr[^>]*>(.*?)</tr>", re.S | re.I)
    rx_cell = re.compile(r"<t[dh][^>]*>(.*?)</t[dh]>", re.S | re.I)
    rx_tag = re.compile(r"<[^>]+>")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for url in pdf[url_col].tolist():
                last_err = None
                for _attempt in range(MAX_RETRIES):
                    try:
                        html = fetcher(url)
                        last_err = None
                        break
                    except Exception as exc:  # noqa: BLE001
                        last_err = exc
                if last_err is not None:
                    raise last_err
                for i, row_html in enumerate(rx_row.findall(html)):
                    cells = [
                        rx_tag.sub("", c).strip()
                        for c in rx_cell.findall(row_html)
                    ]
                    if cells:
                        out.append((url, i, cells))
            yield pd.DataFrame(out, columns=["url", "row_idx", "cells"])

    return pages.select(url_col).mapInPandas(run, schema=SCRAPE_SCHEMA)
