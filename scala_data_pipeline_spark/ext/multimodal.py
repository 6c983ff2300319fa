"""Multimodal columns: image/audio/video as opaque ``binary`` with typed
metadata, processed by Arrow-batched ``mapInPandas``.

The Spark-side plumbing is real and tested: schema contract, binary
payload column, per-partition batch iteration, typed output schema.
Image decode is a real Pillow path behind an optional-import guard
(``HAS_PIL``; the container lacks Pillow and installs are forbidden —
ENV_PROBES.md); audio/video decode still raises at the ``decode_stub``
plug point. The ``fake`` path computes deterministic features from the
raw bytes so the pipeline is end-to-end testable (and
oracle-checkable, since the fakes are pure byte arithmetic).

Scale notes: ``mapInPandas`` streams Arrow batches — memory is bounded
by ``spark.sql.execution.arrow.maxRecordsPerBatch`` regardless of
partition size, which is what makes a 100 TB binary-column scan safe.
Partitioning: media blobs are large; repartition by size (bin-packing on
``n_bytes``) before heavy decode so task skew stays bounded.
"""

from __future__ import annotations

import io
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media_type", StringType()),
        StructField("payload", BinaryType()),
        StructField("n_bytes", LongType()),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("head_hex", StringType()),
        StructField("first_byte", LongType()),
    ]
)


def to_media_frame(docs: DataFrame) -> DataFrame:
    """documents → media frame: utf-8 bytes of text stand in for an
    image/audio payload; real pipelines read the blob column directly."""
    payload = F.encode(F.col("text"), "utf-8")
    return docs.select(
        "doc_id",
        F.lit("fake/utf8").alias("media_type"),
        payload.alias("payload"),
        F.octet_length(payload).cast("long").alias("n_bytes"),
    )


# Optional-import guard: the real image decoder activates when Pillow
# is importable. Probe 2026-08-13: `import PIL` → ModuleNotFoundError
# in this container and installs are not permitted (see ENV_PROBES.md),
# so the PIL branch is exercised only where the library exists; the
# deterministic fake path stays the tested default either way.
try:
    from PIL import Image as _PILImage

    HAS_PIL = True
except ImportError:  # pragma: no cover - container has no Pillow
    _PILImage = None
    HAS_PIL = False


def decode_stub(payload: bytes, media_type: str):
    """Real-decoder plug point. ``image/*`` payloads decode via Pillow
    when it is importable (width/height/mode); every other media type —
    and any environment without the decoder — raises, so a pipeline
    never silently fakes a decode it claims to have done."""
    if media_type.startswith("image/") and HAS_PIL:
        img = _PILImage.open(io.BytesIO(payload))
        return {"width": img.width, "height": img.height, "mode": img.mode}
    raise NotImplementedError(
        f"no media decoder available for {media_type!r}; "
        "install pillow/librosa/av and dispatch on media_type here"
    )


IMAGE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("mode", StringType()),
    ]
)


def image_features(media: DataFrame) -> DataFrame:
    """Real image metadata via the Pillow branch of :func:`decode_stub`,
    Arrow-batched like every other media transform. Raises per-task
    where Pillow is absent (deliberate — see decode_stub); gated test:
    tests/test_multimodal.py::test_image_features_real_decode."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats = [
                decode_stub(bytes(p), str(mt))
                for p, mt in zip(pdf["payload"], pdf["media_type"])
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": pd.Series(
                        [f["width"] for f in feats], dtype="int64"
                    ),
                    "height": pd.Series(
                        [f["height"] for f in feats], dtype="int64"
                    ),
                    "mode": [f["mode"] for f in feats],
                }
            )

    return media.mapInPandas(batches, schema=IMAGE_SCHEMA)


def extract_features(media: DataFrame, fake: bool = True) -> DataFrame:
    """Arrow-batched feature extraction over the payload column.

    ``fake=True`` computes deterministic byte-level features (length,
    head bytes hex, first byte) standing in for width/height/duration;
    ``fake=False`` additionally DECODES every payload with its own
    ``media_type`` via :func:`decode_stub` before emitting — a
    validation pass that raises on any undecodable row (round-13
    review: the old code passed a hardcoded 'fake/utf8' and dropped
    the results, so fake=False silently behaved like fake=True). For
    decoded metadata columns use :func:`image_features` — this
    function's schema is byte-grained by design.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if not fake:
                for p, mt in zip(pdf["payload"], pdf["media_type"]):
                    decode_stub(bytes(p), str(mt))  # raises if undecodable
            payloads = pdf["payload"].map(bytes)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": payloads.map(len).astype("int64"),
                    "head_hex": payloads.map(lambda b: b[:8].hex()),
                    "first_byte": payloads.map(
                        lambda b: b[0] if b else -1
                    ).astype("int64"),
                }
            )

    return media.mapInPandas(batches, schema=FEATURE_SCHEMA)


def extract_features_arrow(media: DataFrame) -> DataFrame:
    """``mapInArrow`` twin of :func:`extract_features` (fake path):
    RecordBatch-in/RecordBatch-out with no pandas materialization —
    the zero-copy lane for media transforms whose per-row work is
    vectorizable Arrow compute (here ``binary_length``) plus cheap
    per-element Python. Bit-identical to the pandas path
    (tests/test_multimodal.py asserts it), so pipelines can pick the
    lane per workload without a semantics change."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def batches(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in it:
            payload = rb.column(rb.schema.get_field_index("payload"))
            doc_id = rb.column(rb.schema.get_field_index("doc_id"))
            n_bytes = pc.cast(pc.binary_length(payload), pa.int64())
            raw = payload.to_pylist()
            head_hex = pa.array(
                [b[:8].hex() for b in raw], type=pa.string()
            )
            first_byte = pa.array(
                [(b[0] if b else -1) for b in raw], type=pa.int64()
            )
            yield pa.RecordBatch.from_arrays(
                [doc_id, n_bytes, head_hex, first_byte],
                names=["doc_id", "n_bytes", "head_hex", "first_byte"],
            )

    return media.mapInArrow(batches, schema=FEATURE_SCHEMA)


def read_media_dir(spark, path: str, glob: str | None = None):
    """Ingest raw media files as a media frame via Spark's binaryFile
    source — the canonical 100 TB pattern for image/audio/video: each
    file becomes (path, modificationTime, length, content) with the
    blob read ONCE, lazily, split across tasks by file. ``glob`` maps
    to pathGlobFilter (e.g. ``*.jpg``); recursive lookup is on so a
    sharded layout (dir per shard) scans in one pass."""
    from pyspark.sql import functions as F

    reader = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
    )
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    raw = reader.load(path)
    return raw.select(
        F.regexp_extract(F.col("path"), r"([^/]+)$", 1).alias("file_name"),
        F.lit("binary/file").alias("media_type"),
        F.col("content").alias("payload"),
        F.col("length").cast("long").alias("n_bytes"),
    )


FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", LongType()),
        StructField("frame_hex", StringType()),
        StructField("frame_n_bytes", LongType()),
    ]
)


def sample_frames(
    media: DataFrame, frame_bytes: int = 32, every_k: int = 2
) -> DataFrame:
    """Frame sampling for video-like payloads — the one-to-MANY media
    transform (one blob row → several frame rows), Arrow-batched. The
    deterministic fake treats the payload as a sequence of
    ``frame_bytes``-sized frames and emits every ``every_k``-th one as
    hex; a real pipeline replaces the slicing with av/ffmpeg keyframe
    extraction at exactly this point (``decode_stub``'s contract).

    Scale notes: output fan-out is bounded by payload size /
    (frame_bytes × every_k); Arrow batch memory stays bounded by
    maxRecordsPerBatch on the INPUT side, and each yielded frame batch
    is proportional to one input batch.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {"doc_id": [], "frame_idx": [], "frame_hex": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                n_frames = (len(b) + frame_bytes - 1) // frame_bytes
                for i in range(0, n_frames, every_k):
                    fr = b[i * frame_bytes : (i + 1) * frame_bytes]
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(i)
                    out["frame_hex"].append(fr.hex())
            frames = pd.DataFrame(out)
            if len(frames):
                frames["frame_n_bytes"] = (
                    frames["frame_hex"].str.len() // 2
                ).astype("int64")
            else:
                frames["frame_n_bytes"] = pd.Series([], dtype="int64")
            yield frames

    return media.mapInPandas(batches, schema=FRAME_SCHEMA)


def sample_frames_sql() -> str:
    """DuckDB twin over the utf-8 fake payload (hex arithmetic)."""
    fb2 = 64  # hex digits per 32-byte frame
    return f"""
WITH media AS (
  SELECT doc_id, lower(hex(encode(text))) AS hx FROM documents
), idx AS (
  SELECT doc_id, hx,
         unnest(range(0, CAST(ceil(length(hx) / {fb2}.0) AS BIGINT))) AS i
  FROM media
)
SELECT doc_id,
       CAST(i AS BIGINT) AS frame_idx,
       substr(hx, CAST(i * {fb2} + 1 AS INTEGER), {fb2}) AS frame_hex,
       CAST(length(substr(hx, CAST(i * {fb2} + 1 AS INTEGER), {fb2})) / 2
            AS BIGINT) AS frame_n_bytes
FROM idx WHERE i % 2 = 0
"""


THUMB_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("thumb_hex", StringType()),
        StructField("thumb_n_bytes", LongType()),
    ]
)


def resize_thumbnail(media: DataFrame, max_bytes: int = 16) -> DataFrame:
    """Resize/thumbnail stand-in — the one-to-one media transform with a
    size contract (output payload ≤ ``max_bytes``). The fake truncates;
    a real pipeline calls PIL's ``Image.thumbnail`` at the
    ``decode_stub`` plug point and re-encodes.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = pdf["payload"].map(bytes)
            thumbs = payloads.map(lambda b: b[:max_bytes].hex())
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": payloads.map(len).astype("int64"),
                    "thumb_hex": thumbs,
                    "thumb_n_bytes": (thumbs.str.len() // 2).astype(
                        "int64"
                    ),
                }
            )

    return media.mapInPandas(batches, schema=THUMB_SCHEMA)


def resize_thumbnail_sql() -> str:
    mb2 = 32  # hex digits of a 16-byte thumbnail
    return f"""
WITH media AS (
  SELECT doc_id, lower(hex(encode(text))) AS hx FROM documents
)
SELECT doc_id,
       CAST(length(hx) / 2 AS BIGINT) AS n_bytes,
       substr(hx, 1, {mb2}) AS thumb_hex,
       CAST(length(substr(hx, 1, {mb2})) / 2 AS BIGINT) AS thumb_n_bytes
FROM media
"""
