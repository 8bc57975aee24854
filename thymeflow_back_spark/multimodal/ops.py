"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

Design for a 100 TB training-data pipeline: media travel as ``binary``
columns with a metadata struct (kind, mime, width/height/duration when
known); all media operators are ``mapInPandas`` stages with Arrow-batched
binary transfer, so the Spark-side plumbing (schema, batching, partition
sizing) is identical whether the inner decode is a real codec or a stub.

PNG decodes for real — a pure-stdlib codec (zlib inflate + numpy filter
reconstruction, multimodal/png.py), no external image library — and so does
WAV audio (RIFF/PCM via the stdlib wave module, multimodal/audio.py). Other
formats (JPEG/video/compressed audio) still need codecs that are NOT in this
runtime, so ``decode_image`` raises NotImplementedError for them unless ``fake=True``
— the deterministic fake decoder (content-hash-seeded pseudo-pixels)
exercises every batch/shape/partition path honestly; swapping in a real
decoder changes one function.

Partitioning note: media rows are large — repartition by size budget
(``spark.sql.files.maxPartitionBytes`` for scans, explicit repartition
before mapInPandas) so an Arrow batch of N rows fits executor memory.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

MEDIA_SCHEMA = (
    "media_id long, kind string, mime string, content binary, "
    "meta map<string,string>"
)

FEATURES_SCHEMA = "media_id long, width int, height int, mean_luma double, phash string"


def decode_image(content: bytes, fake: bool = False) -> np.ndarray:
    """bytes → HxWx3 uint8 array.

    PNG bytes decode for real (pure-stdlib codec, multimodal/png.py).
    Other formats need a codec not installed in this runtime; the
    deterministic fake derives shape and pixels from the content hash
    (same bytes → same "image"), keeping every downstream shape/batch
    path real.
    """
    from .png import PNG_SIGNATURE, decode_png

    if bytes(content[:8]) == PNG_SIGNATURE:
        return decode_png(bytes(content))
    if not fake:
        raise NotImplementedError(
            "non-PNG image codec not available in this runtime; pass fake=True "
            "for the deterministic stub or inject a real decoder"
        )
    digest = hashlib.sha256(content).digest()
    h = 32 + digest[0] % 32
    w = 32 + digest[1] % 32
    rng = np.random.RandomState(int.from_bytes(digest[2:6], "big"))
    return rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)


def _phash(img: np.ndarray) -> str:
    """Tiny perceptual hash: 8×8 luma mean threshold → 64-bit hex.

    The threshold carries a tiny epsilon so blocks EQUAL to the mean hash
    to 0: on a constant image, pairwise float summation can put the
    computed mean an ulp below the block value, and a strict `>` would
    flip the whole hash to all-ones on rounding noise."""
    luma = img.mean(axis=2)
    hh, ww = luma.shape
    blocks = luma[: hh - hh % 8, : ww - ww % 8].reshape(8, (hh - hh % 8) // 8, 8, -1).mean(axis=(1, 3))
    bits = (blocks > blocks.mean() + 1e-6).flatten()
    return f"{int(''.join('1' if b else '0' for b in bits), 2):016x}"


def extract_image_features(media: DataFrame, fake_decode: bool = False) -> DataFrame:
    """Decode + feature-extract per image: dimensions, mean luma, phash."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                img = decode_image(bytes(content), fake=fake_decode)
                rows.append(
                    {
                        "media_id": mid,
                        "width": img.shape[1],
                        "height": img.shape[0],
                        "mean_luma": float(img.mean()),
                        "phash": _phash(img),
                    }
                )
            yield pd.DataFrame(rows, columns=["media_id", "width", "height", "mean_luma", "phash"])

    return media.select("media_id", "content").mapInPandas(run, FEATURES_SCHEMA)
