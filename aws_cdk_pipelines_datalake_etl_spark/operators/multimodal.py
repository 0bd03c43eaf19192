"""Multimodal column support: opaque binary payloads + typed metadata.

Convention: a modality column is ``binary`` (the raw bytes) paired
with a metadata struct (``media_type``, ``byte_len``, ``sha`` plus
modality-specific fields).  The Spark-side plumbing — schema,
Arrow-batched pandas UDFs over ``mapInPandas``, partition-friendly
batch shapes — is real and tested.

Codecs: image decode and resize have a REAL zero-dependency default
path for PPM/PGM/BMP bytes (:mod:`..functions.imagecodec`); richer
formats (PNG/JPEG), audio resample, and video frame-sample raise
``NotImplementedError`` unless a decoder/sampler is injected (the
media libraries are not in this environment; tests cover both the
real path on real bytes and the injectable seam).

At 100 TB: binaries ride in parquet as-is (no re-encoding), metadata
extraction is a narrow map, and ``mapInPandas`` processes each file
split as Arrow batches, each walked in fixed row chunks (one output
frame per chunk) — per-executor output memory is bounded by the
chunk size, not file size.  Building an operator never changes the
session's configuration.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_META_SCHEMA = StructType(
    [
        StructField("media_type", StringType(), True),
        StructField("byte_len", LongType(), True),
        StructField("sha", StringType(), True),
    ]
)

IMAGE_FEATURES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("n_channels", IntegerType(), True),
        StructField("mean_luma", StringType(), True),
    ]
)


def attach_binary_column(
    df: DataFrame, payload_col: str, media_type: str, out_col: str = "blob"
) -> DataFrame:
    """Wrap an existing column's bytes as the (binary, metadata) pair.

    Metadata extraction is pure Catalyst (length / sha2) — narrow map,
    no UDF.
    """
    blob = F.col(payload_col).cast(BinaryType())
    return df.withColumn(out_col, blob).withColumn(
        f"{out_col}_meta",
        F.struct(
            F.lit(media_type).alias("media_type"),
            F.length(blob).cast("bigint").alias("byte_len"),
            F.sha2(blob, 256).alias("sha"),
        ),
    )


_BATCH_ROWS = 64
_VIDEO_BATCH_ROWS = 16  # each row fans out to a frame per sample


def _chunks(batches: Iterator[pd.DataFrame], rows: int) -> Iterator[pd.DataFrame]:
    """Every Arrow batch in slices of at most ``rows`` rows, each with a
    fresh 0-based index (so positional columns align with it)."""
    for pdf in batches:
        for i in range(0, len(pdf), rows):
            yield pdf.iloc[i : i + rows].reset_index(drop=True)


def _default_decoder(payload: bytes) -> dict:
    """Real decode for PPM/PGM/BMP bytes; NotImplementedError for
    formats needing external codec libraries (PNG/JPEG)."""
    from aws_cdk_pipelines_datalake_etl_spark.functions.imagecodec import decode_image

    return decode_image(bytes(payload))


def decode_image_batch(
    df: DataFrame,
    blob_col: str = "blob",
    id_col: str = "doc_id",
    decoder: Callable[[bytes], dict] | None = None,
) -> DataFrame:
    """Feature-extract image blobs via ``mapInPandas``.

    ``decoder(payload) -> {"width", "height", "n_channels",
    "mean_luma"}``.  The default decoder handles PPM/PGM/BMP natively
    (:mod:`..functions.imagecodec`) and raises NotImplementedError for
    formats needing external libs; inject ``decoder=`` for those.
    """
    dec = decoder or _default_decoder

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in _chunks(batches, _BATCH_ROWS):
            feats = [dec(p) for p in pdf[blob_col]]
            out = pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "width": [f.get("width") for f in feats],
                    "height": [f.get("height") for f in feats],
                    "n_channels": [f.get("n_channels") for f in feats],
                    "mean_luma": [f.get("mean_luma") for f in feats],
                }
            )
            yield out

    return df.select(id_col, blob_col).mapInPandas(run, IMAGE_FEATURES_SCHEMA)


RESIZED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("blob", BinaryType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
    ]
)


def resize_image_batch(
    df: DataFrame,
    width: int,
    height: int,
    blob_col: str = "blob",
    id_col: str = "doc_id",
    resizer: Callable[[bytes, int, int], bytes] | None = None,
) -> DataFrame:
    """Resize image blobs via ``mapInPandas`` — binary in, binary out
    through Arrow.  ``resizer(payload, w, h) -> bytes``; the default
    nearest-neighbor-resizes PPM/PGM/BMP natively (output re-encoded
    as PGM/PPM) and raises NotImplementedError for other formats.
    The output schema carries the new dimensions so downstream ops
    never re-decode just to learn them."""

    def _default_resizer(payload: bytes, w: int, h: int) -> bytes:
        from aws_cdk_pipelines_datalake_etl_spark.functions.imagecodec import (
            resize_image,
        )

        return resize_image(bytes(payload), w, h)

    rs = resizer or _default_resizer

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in _chunks(batches, _BATCH_ROWS):
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "blob": [rs(p, width, height) for p in pdf[blob_col]],
                    "width": width,
                    "height": height,
                }
            )

    return df.select(id_col, blob_col).mapInPandas(run, RESIZED_SCHEMA)


AUDIO_FEATURES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("sample_rate", IntegerType(), True),
        StructField("n_channels", IntegerType(), True),
        StructField("n_frames", LongType(), True),
        StructField("duration_ms", LongType(), True),
        StructField("rms", DoubleType(), True),
        StructField("peak", IntegerType(), True),
        StructField("zero_crossings", LongType(), True),
    ]
)


def decode_audio_batch(
    df: DataFrame,
    blob_col: str = "blob",
    id_col: str = "doc_id",
    decoder: Callable[[bytes], dict] | None = None,
) -> DataFrame:
    """Feature-extract audio blobs via ``mapInPandas`` — the audio
    analogue of :func:`decode_image_batch`.

    ``decoder(payload) -> {"sample_rate", "n_channels", "n_frames",
    "duration_ms", "rms", "peak", "zero_crossings"}``.  The default
    decodes PCM WAV natively (:mod:`..functions.audiocodec`) and
    raises NotImplementedError for compressed codecs (MP3/FLAC);
    inject ``decoder=`` for those.  Same scale posture as images:
    blobs ride parquet untouched, Arrow batch size bounds executor
    memory, output inherits input partitioning (no shuffle)."""

    def _default(payload: bytes) -> dict:
        from aws_cdk_pipelines_datalake_etl_spark.functions.audiocodec import (
            audio_features,
        )

        return audio_features(bytes(payload))

    dec = decoder or _default

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in _chunks(batches, _BATCH_ROWS):
            feats = [dec(p) for p in pdf[blob_col]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "sample_rate": pd.Series(
                        [f.get("sample_rate") for f in feats], dtype="int32"
                    ),
                    "n_channels": pd.Series(
                        [f.get("n_channels") for f in feats], dtype="int32"
                    ),
                    "n_frames": pd.Series(
                        [f.get("n_frames") for f in feats], dtype="int64"
                    ),
                    "duration_ms": pd.Series(
                        [f.get("duration_ms") for f in feats], dtype="int64"
                    ),
                    "rms": pd.Series(
                        [f.get("rms") for f in feats], dtype="float64"
                    ),
                    "peak": pd.Series(
                        [f.get("peak") for f in feats], dtype="int32"
                    ),
                    "zero_crossings": pd.Series(
                        [f.get("zero_crossings") for f in feats], dtype="int64"
                    ),
                }
            )

    return df.select(id_col, blob_col).mapInPandas(run, AUDIO_FEATURES_SCHEMA)


FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("frame_idx", IntegerType(), False),
        StructField("frame", BinaryType(), True),
    ]
)


def sample_video_frames(
    df: DataFrame,
    every_nth: int = 10,
    blob_col: str = "blob",
    id_col: str = "doc_id",
    sampler: Callable[[bytes, int], list[bytes]] | None = None,
) -> DataFrame:
    """Frame-sample video blobs via ``mapInPandas`` — the 1→N fan-out
    batch shape (one input row yields a row per sampled frame).
    ``sampler(payload, every_nth) -> [frame_bytes, ...]``; the default
    REALLY splits concatenated-PNM streams
    (:func:`..functions.imagecodec.split_ppm_stream`) and raises
    NotImplementedError for real containers (MP4/WebM — no ffmpeg
    here; inject a sampler).  At scale the fan-out happens inside each
    chunk of ``_VIDEO_BATCH_ROWS`` input rows, so executor memory is
    bounded by ``_VIDEO_BATCH_ROWS * frames_per_video``, and the
    output inherits the input partitioning (no shuffle)."""

    def _default(payload: bytes, n: int) -> list[bytes]:
        from aws_cdk_pipelines_datalake_etl_spark.functions.imagecodec import (
            sample_ppm_stream,
        )

        return sample_ppm_stream(bytes(payload), n)

    sp = sampler or _default

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in _chunks(batches, _VIDEO_BATCH_ROWS):
            ids: list[int] = []
            idxs: list[int] = []
            frames: list[bytes] = []
            for doc_id, payload in zip(pdf[id_col], pdf[blob_col]):
                for i, fr in enumerate(sp(payload, every_nth)):
                    ids.append(int(doc_id))
                    idxs.append(i)
                    frames.append(fr)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "frame": frames,
                }
            )

    return df.select(id_col, blob_col).mapInPandas(run, FRAME_SCHEMA)


EMBEDDING_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("embedding", ArrayType(FloatType()), True),
    ]
)


def extract_embedding_batch(
    df: DataFrame,
    extractor: Callable[[bytes], list] | None = None,
    blob_col: str = "blob",
    id_col: str = "doc_id",
) -> DataFrame:
    """Feature-extract binary payloads into a fixed-size embedding
    column (``array<float>``) via ``mapInPandas`` — the bridge from
    multimodal blobs to the similarity/ANN operators
    (:mod:`.similarity` consumes exactly this column shape).

    ``extractor(payload) -> list[float]``.  The default is a REAL
    zero-dependency extractor: the 256-bin byte histogram (raw counts,
    exact in float32 — callers normalize if they want unit vectors).
    A crude content signature, but a genuine one: near-identical
    payloads land near each other in cosine space, which is enough to
    drive the downstream ANN/near-dup operators end-to-end.  Inject
    ``extractor=`` for learned embeddings (CLIP/audio models are not
    in this environment).
    """

    def _default(payload: bytes) -> list:
        import numpy as np

        return np.bincount(
            np.frombuffer(bytes(payload), dtype=np.uint8), minlength=256
        ).astype("float32")

    ext = extractor or _default

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in _chunks(batches, _BATCH_ROWS):
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "embedding": [ext(p) for p in pdf[blob_col]],
                }
            )

    return df.select(id_col, blob_col).mapInPandas(run, EMBEDDING_SCHEMA)
