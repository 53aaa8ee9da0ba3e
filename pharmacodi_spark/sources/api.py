"""External-API connector harness (SURVEY §2.10 X4/X5).

The reference fans out HTTP calls with multiprocessing.Pool over id-chunks
(get_chembl_compound_targets.py:92-113 ``parallelize``; UniProt batches of
1000 at build_target_tables.py:144-146; paginated clinicaltrials fetch at
build_clinical_trial_tables.py:91-112).

Spark-first: the id table is repartitioned and the fetch runs inside
``mapInPandas`` on the executors — the network boundary moves off the
driver, batching/retries live inside the UDF, and the fetcher is INJECTED so
tests (and CI, which has no network) pass a fixture function
(SURVEY §7.3 item 6).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

MAX_RETRIES = 3  #: fetch attempts per chunk or URL before the error surfaces


def fetch_batched(
    ids: DataFrame,
    fetcher: Callable[[list], pd.DataFrame],
    out_schema: T.StructType | str,
    batch_size: int = 50,
) -> DataFrame:
    """Fan an injected ``fetcher(batch_of_ids) -> pd.DataFrame`` out over the
    cluster. ``ids`` must be a single-column DataFrame.

    Each partition iterates its Arrow batches, slices them into
    ``batch_size`` chunks (the reference's 50/1000 chunk sizes —
    BASELINE.md), calls the fetcher with simple retry, and yields result
    frames conforming to ``out_schema``.
    """
    id_col = ids.columns[0]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            values = pdf[id_col].tolist()
            for i in range(0, len(values), batch_size):
                chunk = values[i : i + batch_size]
                last_err: Exception | None = None
                for _attempt in range(MAX_RETRIES):
                    try:
                        yield fetcher(chunk)
                        last_err = None
                        break
                    except Exception as exc:  # noqa: BLE001 — retry then surface
                        last_err = exc
                if last_err is not None:
                    raise last_err

    return ids.mapInPandas(run, schema=out_schema)
