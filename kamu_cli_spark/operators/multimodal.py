"""Multimodal (image/audio/video) column plumbing.

Media rides as opaque `binary` columns with typed metadata structs;
decode / feature-extraction / resize / frame-sampling run as
Arrow-batched pandas functions over `mapInPandas` — the only operators
in this engine where Python in the data path is justified (C-speed
media libs). The heavyweight media libraries are NOT present in this
environment, so payloads in formats that need them featurize via a
deterministic digest stub — but PPM and uncompressed 24-bit BMP decode
for REAL through the vendored pure-Python codec
(operators/imagecodec.py), so the decode plumbing (sniff -> decode ->
resize -> featurize, schema, batch iteration, partitioning) is
exercised on actual image bytes.

At 100 TB: binaries live in parquet alongside metadata; filters on the
typed metadata (width, duration, mime) push down to the scan so decode
only ever sees the matching subset; `mapInPandas` streams Arrow batches
without materializing whole partitions.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("mime", T.StringType(), True),
        T.StructField("content", T.BinaryType(), True),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
    ]
)


def attach_binary_column(
    df: DataFrame, text_col: str, id_col: str, mime: str = "application/octet-stream"
) -> DataFrame:
    """Build a media-shaped frame from any source column (test harness:
    encodes text as the opaque payload)."""
    return df.select(
        F.col(id_col).cast("long").alias("media_id"),
        F.lit(mime).alias("mime"),
        F.col(text_col).cast("binary").alias("content"),
        F.create_map(
            F.lit("origin"), F.lit(text_col), F.lit("codec"), F.lit("raw")
        ).alias("meta"),
    )


FEATURE_SCHEMA = (
    "media_id long, mime string, n_bytes long, sha256 string, feature array<float>"
)


def _stub_feature(payload: bytes, dim: int = 8) -> list[float]:
    """Deterministic fake embedding from the payload digest — stands in
    for a real image/audio encoder (marked stub; see module docstring)."""
    d = hashlib.sha256(payload).digest()
    return [(d[i] / 255.0) * 2.0 - 1.0 for i in range(dim)]


def _image_feature(payload: bytes, dim: int = 8) -> list[float] | None:
    """REAL 8-dim feature for decodable payloads (PPM / 24-bit BMP):
    [w, h, mean RGB, std RGB] each mapped into [-1, 1]. None when the
    payload isn't a decodable image (caller falls back to the stub)."""
    from kamu_cli_spark.operators import imagecodec

    if imagecodec.sniff(payload) is None:
        return None
    try:
        img = imagecodec.decode(payload)
    except imagecodec.ImageDecodeError:
        return None
    h, w = img.shape[:2]
    f = img.reshape(-1, 3).astype("float64")
    means = f.mean(axis=0) / 255.0 * 2.0 - 1.0  # [0,255] -> [-1,1]
    stds = f.std(axis=0) / 127.5 * 2.0 - 1.0  # [0,127.5] -> [-1,1]
    dims = [min(w, 4096) / 4096.0 * 2.0 - 1.0, min(h, 4096) / 4096.0 * 2.0 - 1.0]
    out = dims + list(means) + list(stds)
    return [float(x) for x in out[:dim]]


def extract_features(df: DataFrame, batch_hint: int | None = None) -> DataFrame:
    """Decode + featurize media via mapInPandas (Arrow batches).

    Payloads that sniff as PPM/BMP decode for real through
    operators/imagecodec.py and featurize from pixel statistics; other
    formats (the media libs are absent here) use the deterministic
    digest stub.
    """

    def feat(b: bytes | None) -> list[float]:
        b = b or b""
        return _image_feature(b) or _stub_feature(b)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["content"]
            out = pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "mime": pdf["mime"],
                    "n_bytes": payloads.map(lambda b: len(b) if b is not None else 0),
                    "sha256": payloads.map(
                        lambda b: hashlib.sha256(b or b"").hexdigest()
                    ),
                    "feature": payloads.map(feat),
                }
            )
            yield out

    return df.mapInPandas(run, FEATURE_SCHEMA)


DECODED_SCHEMA = (
    "media_id long, mime string, orig_width int, orig_height int, "
    "width int, height int, decoded boolean, pixels binary"
)


def decode_image(df: DataFrame, width: int, height: int) -> DataFrame:
    """Decode + nearest-neighbor resize media payloads to `width` x
    `height` raw RGB (row-major, 3 bytes/pixel) via mapInPandas.

    PPM / 24-bit BMP payloads decode through the vendored pure-Python
    codec (PIL, when installed, could slot in for the long tail of
    formats); rows whose payload isn't decodable pass through with
    decoded=false and null pixels so callers can filter or route them.
    At 100 TB the shape matters: one Arrow-batched map pass, no
    shuffle; metadata filters (mime, dimensions) push to the scan so
    decode only sees matching rows.
    """
    from kamu_cli_spark.operators import imagecodec

    def one(mid, mime, b):
        try:
            img = imagecodec.decode(b or b"")
        except imagecodec.ImageDecodeError:
            return (mid, mime, None, None, width, height, False, None)
        oh, ow = img.shape[:2]
        small = imagecodec.resize_nearest(img, width, height)
        return (mid, mime, ow, oh, width, height, True, small.tobytes())

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [
            "media_id", "mime", "orig_width", "orig_height",
            "width", "height", "decoded", "pixels",
        ]
        for pdf in batches:
            rows = [
                one(mid, mime, b)
                for mid, mime, b in zip(
                    pdf["media_id"], pdf["mime"], pdf["content"]
                )
            ]
            yield pd.DataFrame(rows, columns=cols)

    return df.mapInPandas(run, DECODED_SCHEMA)

