"""Multimodal columns (north star): image/audio/video as opaque ``binary``
columns with typed metadata, processed via Arrow-batched ``mapInPandas``.

The Spark-side plumbing — schemas, partition-size control, UDF signatures,
batch shapes — is real and tested; the DEFAULT media decode is a
deterministic fake (``decoder=None``) because heavyweight codec libraries
are not in this container. The seam itself is exercised by a REAL codec:
``media_codecs.png_feature_decoder`` (pure-stdlib PNG — chunk parse, IDAT
inflate, full scanline-filter reconstruction) runs through this exact
injection point in tests/test_media_codecs.py, including corrupt-bytes
rows degrading to ``decode_ok=False``. Swap in PIL/torchaudio/ffmpeg the
same way without touching the plan.

Scale notes: binary payloads are the widest rows in the pipeline —
``_ROWS_PER_CHUNK`` bounds Arrow batch memory; decode runs
executor-side so 1000 executors decode 1000 partitions concurrently; outputs
carry features + metadata only (payloads dropped ASAP so downstream shuffles
stay narrow).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),  # image | audio | video
        T.StructField("payload", T.BinaryType()),
        T.StructField("mime", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
    ]
)

FEATURE_SCHEMA = (
    "media_id long, kind string, n_bytes long, feat array<float>, decode_ok boolean"
)

# payloads per decoder/hasher slice of an Arrow batch
_ROWS_PER_CHUNK = 64


def _fake_decode(payload: bytes, dim: int = 8) -> list[float]:
    """Deterministic stand-in for a real decode→feature step: byte-histogram
    moments. Keeps tests meaningful (stable values, payload-sensitive)."""
    if not payload:
        return [0.0] * dim
    return [float(payload[i % len(payload)]) / 255.0 for i in range(dim)]


def extract_features(
    media: DataFrame,
    decoder: Callable[[bytes], list[float]] | None = None,
) -> DataFrame:
    """Decode/feature-extract over binary payloads with ``mapInPandas``.

    ``decoder`` is injected; None uses the deterministic fake (container has
    no codec libs — see module docstring). Real decoders raise inside the
    UDF → ``decode_ok=False`` rows, never a job abort (corrupt media is
    routine at corpus scale)."""
    decode = decoder or _fake_decode

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for start in range(0, len(pdf), _ROWS_PER_CHUNK):
                chunk = pdf.iloc[start : start + _ROWS_PER_CHUNK]
                feats, oks = [], []
                for payload in chunk["payload"]:
                    try:
                        feats.append(decode(bytes(payload) if payload is not None else b""))
                        oks.append(True)
                    except Exception:  # noqa: BLE001 — corrupt media is data, not a bug
                        feats.append(None)
                        oks.append(False)
                yield pd.DataFrame(
                    {
                        "media_id": chunk["media_id"].values,
                        "kind": chunk["kind"].values,
                        "n_bytes": [
                            len(p) if p is not None else 0 for p in chunk["payload"]
                        ],
                        "feat": feats,
                        "decode_ok": oks,
                    }
                )

    cols = ["media_id", "kind", "payload"]
    return media.select(*cols).mapInPandas(run, schema=FEATURE_SCHEMA)


def frame_sample_plan(media: DataFrame) -> DataFrame:
    """Video frame-sampling *plan*: one output row per (media_id, frame_ts),
    one frame a second.
    The timestamp grid is computed natively from duration metadata
    (sequence + explode) so the expensive decode fans out over frames, not
    videos — partition by frame for even load. Decode of each frame then
    goes through ``extract_features`` with a frame-aware decoder."""
    return (
        media.where(F.col("kind") == "video")
        .select(
            "media_id",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.greatest(F.col("duration_ms") - 1, F.lit(0)),
                    F.lit(1000),
                )
            ).alias("frame_ts_ms"),
        )
    )


def resize_plan(media: DataFrame) -> DataFrame:
    """Resize planning: compute target dims natively from metadata (aspect-
    preserving clamp to 256 px a side); the pixel work happens in the injected
    decoder. Keeping geometry in the plan lets Catalyst prune undecodable
    rows (null dims) before any Python runs."""
    w, h = F.col("width"), F.col("height")
    scale = F.least(
        F.lit(1.0), F.lit(256) / F.greatest(w, h).cast("double")
    )
    return media.withColumns(
        {
            "target_w": F.ceil(w * scale).cast("int"),
            "target_h": F.ceil(h * scale).cast("int"),
        }
    )


PHASH_SCHEMA = "media_id long, phash long, decode_ok boolean"


def perceptual_hashes(
    media: DataFrame,
    hasher: Callable[[bytes], int],
) -> DataFrame:
    """Perceptual fingerprints over binary media via the same injected-
    decoder seam as :func:`extract_features` — ``hasher(payload) -> int``
    (e.g. ``media_codecs.png_dhash``); corrupt payloads yield
    ``decode_ok=False`` with a null hash instead of failing the job.

    The output `(media_id, phash)` table plugs DIRECTLY into the text
    dedup machinery: ``text/dedup.py::simhash_near_pairs`` buckets the
    64-bit hashes by prefix and Hamming-filters within buckets — image
    near-dup detection rides the exact same scale path as SimHash text
    dedup (shuffles carry (id, 8-byte hash), never pixels)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for start in range(0, len(pdf), _ROWS_PER_CHUNK):
                chunk = pdf.iloc[start : start + _ROWS_PER_CHUNK]
                hashes, oks = [], []
                for payload in chunk["payload"]:
                    try:
                        v = hasher(bytes(payload) if payload is not None else b"")
                        # two's-complement fold: Spark longs are signed, and
                        # a 64-bit fingerprint may have the top bit set
                        # (xxhash64 text simhashes live in the same domain)
                        hashes.append(v - (1 << 64) if v >= 1 << 63 else v)
                        oks.append(True)
                    except Exception:  # noqa: BLE001 — corrupt media is data
                        hashes.append(None)
                        oks.append(False)
                yield pd.DataFrame(
                    {
                        "media_id": chunk["media_id"].values,
                        "phash": pd.array(hashes, dtype="Int64"),
                        "decode_ok": oks,
                    }
                )

    return media.select("media_id", "payload").mapInPandas(
        run, schema=PHASH_SCHEMA
    )
