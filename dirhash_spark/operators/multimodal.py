"""Multimodal column plumbing (north-star): image/audio/video as opaque
``binary`` columns with typed metadata, processed by Arrow-batched
``mapInArrow`` stages.

The decode step itself is STUBBED — the real codecs (PIL/ffmpeg/soundfile)
are not in this container.  ``decode_image`` raises NotImplementedError
unless PIL is importable; the deterministic fake used by the queries
derives metadata from the payload's sha256, so the Spark-side plumbing —
binary schema, batch shapes, 1→N frame expansion, partitioning — is real
and tested while the codec is swappable.

Scale note: binary payloads move as Arrow record batches, never as
pickled rows.  At 100 TB the payloads live
in parquet binary columns (or file paths + range reads, as in
dirhash.chunks) and each mapInArrow task handles one partition's worth.
"""

from __future__ import annotations

import hashlib
import math
from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..catalog import Catalog
from ..registry import query

_FORMATS = ("png", "jpeg", "webp")


def decode_image(payload: bytes) -> dict:
    """Real decode path — requires an image codec library.

    STUB: PIL is not available in this environment; callers that need
    true pixel data must install it.  The query pipeline uses
    :func:`fake_decode` (deterministic, codec-free) instead.
    """
    try:
        from PIL import Image  # noqa: F401
    except ImportError as exc:
        raise NotImplementedError(
            "image decoding requires PIL/Pillow, not present in this container; "
            "use fake_decode for plumbing tests"
        ) from exc
    import io

    from PIL import Image

    img = Image.open(io.BytesIO(payload))
    return {"width": img.width, "height": img.height, "format": (img.format or "").lower()}


def fake_decode(payload: bytes) -> dict:
    """Deterministic stand-in: metadata derived from the payload digest,
    so every engine/run agrees without a codec."""
    d = hashlib.sha256(payload).digest()
    return {
        "width": 16 + d[0] % 240,
        "height": 16 + d[1] % 240,
        "format": _FORMATS[d[2] % len(_FORMATS)],
    }


_META_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("n_bytes", LongType(), False),
        StructField("payload_sha256", StringType(), False),
        StructField("width", IntegerType(), False),
        StructField("height", IntegerType(), False),
        StructField("format", StringType(), False),
    ]
)
_META_ARROW = to_arrow_schema(_META_SCHEMA)


def _payloads(batch: pa.RecordBatch):
    """(doc_id, payload bytes) pairs of one ``binary_table`` batch."""
    return zip(batch.column("doc_id").to_pylist(), batch.column("payload").to_pylist())


def _extract_meta(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    for batch in batches:
        rows = {k: [] for k in _META_ARROW.names}
        for doc_id, payload in _payloads(batch):
            meta = fake_decode(payload)
            rows["doc_id"].append(doc_id)
            rows["n_bytes"].append(len(payload))
            rows["payload_sha256"].append(hashlib.sha256(payload).hexdigest())
            rows["width"].append(meta["width"])
            rows["height"].append(meta["height"])
            rows["format"].append(meta["format"])
        yield pa.record_batch(rows, schema=_META_ARROW)


def binary_table(cat: Catalog) -> DataFrame:
    """documents → (doc_id, payload BINARY): the opaque-blob table shape
    (payload = UTF-8 bytes of the text, standing in for media bytes).
    Spread so the downstream decode stages parallelize when the source
    layout cannot split (conditional — an identity on layouts whose
    scan already feeds enough tasks, where the old unconditional
    repartition shuffled every payload byte for nothing)."""
    from ..catalog import spread_for_compute

    return spread_for_compute(
        cat.documents.select(
            "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
        ),
        cat.sf_dir,
        "documents",
    )


# The stubbed decode is sha256-derived and the fixture text is pure
# ASCII, so DuckDB (whose sha256() is VARCHAR-only) hashes the identical
# bytes — the oracle re-derives the fake codec's metadata from the hex
# digest with hex-pair → int arithmetic.  This turns the mm_* plumbing
# queries from rows-only into exact cross-engine checks; only the codec
# itself stays a stub (module doc).
_HEXPAIR = (
    "(strpos('0123456789abcdef', substr(h,{a},1))-1)*16"
    " + (strpos('0123456789abcdef', substr(h,{b},1))-1)"
)


@query(
    "mm_meta_extract",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, sha256(text) AS h, length(text) AS n FROM documents
    ),
    b AS (
      SELECT doc_id, n, h,
             {_HEXPAIR.format(a=1, b=2)} AS d0,
             {_HEXPAIR.format(a=3, b=4)} AS d1,
             {_HEXPAIR.format(a=5, b=6)} AS d2
      FROM d
    )
    SELECT doc_id, CAST(n AS BIGINT) AS n_bytes, h AS payload_sha256,
           CAST(16 + d0 % 240 AS INTEGER) AS width,
           CAST(16 + d1 % 240 AS INTEGER) AS height,
           (['png','jpeg','webp'])[d2 % 3 + 1] AS format
    FROM b
    """,
    tags=("multimodal",),
)
def mm_meta_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata extraction over a binary column via Arrow-batched
    mapInArrow (decode stubbed deterministically; see module doc)."""
    cat = Catalog(spark, sf_dir)
    return binary_table(cat).mapInArrow(_extract_meta, _META_SCHEMA)


_FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("frame_idx", LongType(), False),
        StructField("frame_sha256", StringType(), False),
        StructField("frame_hex", StringType(), False),
    ]
)
_FRAME_ARROW = to_arrow_schema(_FRAME_SCHEMA)


def _sample_frames(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """1→N expansion: treat the payload as a 'video', emit every k-th
    fixed-size slice as a 'frame' (deterministic sampling).

    Frame payloads travel as lowercase-hex STRINGs, not raw BINARY: the
    driver harness canonicalizes result frames with pandas, which cannot
    hash bytearray cells (r4 ERR).  Hex is injective, so byte-exactness
    is preserved; the frame-size/stride byte semantics also stay pinned
    by tests/test_llm_ops.py."""
    frame_size, stride = 64, 4
    for batch in batches:
        rows = {k: [] for k in _FRAME_ARROW.names}
        for doc_id, payload in _payloads(batch):
            n_frames = max(len(payload) // frame_size, 1)
            for idx in range(0, n_frames, stride):
                frame = payload[idx * frame_size : (idx + 1) * frame_size]
                rows["doc_id"].append(doc_id)
                rows["frame_idx"].append(idx)
                rows["frame_sha256"].append(hashlib.sha256(frame).hexdigest())
                rows["frame_hex"].append(frame.hex())
        yield pa.record_batch(rows, schema=_FRAME_ARROW)


@query(
    "mm_frame_sample",
    oracle="""
    WITH d AS (
      SELECT doc_id, text, greatest(length(text) // 64, 1) AS n_frames
      FROM documents
    ),
    f AS (
      SELECT doc_id, text,
             unnest(generate_series(0, n_frames - 1, 4)) AS idx
      FROM d
    )
    SELECT doc_id, CAST(idx AS BIGINT) AS frame_idx,
           sha256(substr(text, idx * 64 + 1, 64)) AS frame_sha256,
           lower(hex(encode(substr(text, idx * 64 + 1, 64)))) AS frame_hex
    FROM f
    """,
    tags=("multimodal",),
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over binary payloads (every 4th 64-byte slice) —
    the video-frame-extraction batch shape with a stubbed codec."""
    cat = Catalog(spark, sf_dir)
    return binary_table(cat).mapInArrow(_sample_frames, _FRAME_SCHEMA)


_RESIZE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("src_width", IntegerType(), False),
        StructField("src_height", IntegerType(), False),
        StructField("dst_width", IntegerType(), False),
        StructField("dst_height", IntegerType(), False),
        StructField("thumb_sha256", StringType(), False),
    ]
)
_RESIZE_ARROW = to_arrow_schema(_RESIZE_SCHEMA)


def _resize_batches(target: int):
    """Aspect-preserving resize plumbing; the pixel resample itself is a
    deterministic fake (digest of payload + target box stands in for the
    thumbnail bytes — a real codec plugs in at the marked line)."""

    def inner(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            rows = {k: [] for k in _RESIZE_ARROW.names}
            for doc_id, payload in _payloads(batch):
                meta = fake_decode(payload)
                w, h = meta["width"], meta["height"]
                scale = target / max(w, h)
                # floor(x+0.5), not round(): Python round is half-to-even,
                # which no SQL engine states; half-up is cross-engine exact.
                dw = max(1, math.floor(w * scale + 0.5))
                dh = max(1, math.floor(h * scale + 0.5))
                # REAL CODEC GOES HERE: thumb = resample(payload, dw, dh)
                thumb = hashlib.sha256(payload + f"{dw}x{dh}".encode()).hexdigest()
                rows["doc_id"].append(doc_id)
                rows["src_width"].append(w)
                rows["src_height"].append(h)
                rows["dst_width"].append(dw)
                rows["dst_height"].append(dh)
                rows["thumb_sha256"].append(thumb)
            yield pa.record_batch(rows, schema=_RESIZE_ARROW)

    return inner


@query(
    "mm_resize",
    # Same digest-derived dimensions as mm_meta_extract's oracle; the
    # scale math states the identical IEEE sequence (64/max, then w*scale)
    # and the thumbnail digest is sha256(payload ‖ "WxH") — ASCII text, so
    # VARCHAR concatenation hashes the same bytes Python does.
    oracle=f"""
    WITH d AS (
      SELECT doc_id, text, sha256(text) AS h FROM documents
    ),
    b AS (
      SELECT doc_id, text,
             16 + ({_HEXPAIR.format(a=1, b=2)}) % 240 AS w,
             16 + ({_HEXPAIR.format(a=3, b=4)}) % 240 AS hh
      FROM d
    ),
    s AS (
      SELECT doc_id, text, w, hh,
             greatest(1, CAST(floor(w * (CAST(64 AS DOUBLE) / greatest(w, hh)) + 0.5) AS INTEGER)) AS dw,
             greatest(1, CAST(floor(hh * (CAST(64 AS DOUBLE) / greatest(w, hh)) + 0.5) AS INTEGER)) AS dh
      FROM b
    )
    SELECT doc_id,
           CAST(w AS INTEGER) AS src_width, CAST(hh AS INTEGER) AS src_height,
           dw AS dst_width, dh AS dst_height,
           sha256(text || CAST(dw AS VARCHAR) || 'x' || CAST(dh AS VARCHAR)) AS thumb_sha256
    FROM s
    """,
    tags=("multimodal",),
)
def mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Thumbnail resize to a 64px bounding box, aspect preserved —
    dimension math real, resample stubbed (see module doc)."""
    cat = Catalog(spark, sf_dir)
    return binary_table(cat).mapInArrow(_resize_batches(64), _RESIZE_SCHEMA)


_FEAT_DIM = 16
_FEAT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("feature", ArrayType(DoubleType(), False), False),
    ]
)
_FEAT_ARROW = to_arrow_schema(_FEAT_SCHEMA)


def _feature_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """Fixed-dim feature vector per payload: L1-normalized 16-bucket byte
    histogram, numpy-vectorized — the embedding-extraction batch shape
    (swap the histogram for a model forward pass on a GPU executor).

    Rounding is ``floor(x*1e6 + 0.5)/1e6`` — half-away-from-zero on
    non-negative values, chosen over numpy's ``.round`` (half-to-even)
    because the DuckDB oracle can state the identical IEEE op sequence.
    """
    import numpy as np

    for batch in batches:
        feats = []
        for payload in batch.column("payload").to_pylist():
            arr = np.frombuffer(payload, dtype=np.uint8)
            if arr.size == 0:
                feats.append([0.0] * _FEAT_DIM)
                continue
            hist = np.bincount(arr >> 4, minlength=_FEAT_DIM).astype(np.float64)
            feats.append((np.floor(hist / hist.sum() * 1e6 + 0.5) / 1e6).tolist())
        yield pa.record_batch(
            {"doc_id": batch.column("doc_id"), "feature": feats}, schema=_FEAT_ARROW
        )


@query(
    "mm_feature_extract",
    # The fixture text is pure ASCII (verified: octet_length(encode(text)) ==
    # length(text) at every SF), so UTF-8 bytes == codepoints and the byte
    # histogram is SQL-expressible: the oracle recomputes the nibble
    # histogram character-by-character.  Division order matters — both
    # sides compute (cnt/total)*1e6 in that exact order so the doubles are
    # bit-identical.
    oracle=f"""
    WITH counts AS (
      SELECT doc_id, unicode(substr(text, i, 1)) // 16 AS bucket, count(*) AS cnt
      FROM documents, unnest(generate_series(1, length(text))) AS t(i)
      GROUP BY 1, 2
    ),
    totals AS (SELECT doc_id, length(text) AS total FROM documents),
    grid AS (
      SELECT doc_id, g.i AS feat_idx
      FROM documents, unnest(generate_series(0, {_FEAT_DIM - 1})) AS g(i)
    )
    SELECT grid.doc_id, grid.feat_idx,
           -- greatest(total, 1): a zero-length payload must read as 16
           -- zeros (the Python batch's arr.size == 0 guard), not the
           -- 16 NULLs DuckDB's 0/0 would give; total >= 1 is unchanged
           floor(CAST(coalesce(cnt, 0) AS DOUBLE) / greatest(total, 1) * 1e6 + 0.5)
             / 1e6 AS feat_value
    FROM grid
    JOIN totals ON totals.doc_id = grid.doc_id
    LEFT JOIN counts ON counts.doc_id = grid.doc_id AND counts.bucket = grid.feat_idx
    """,
    tags=("multimodal",),
)
def mm_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction over binary payloads, emitted in exploded form
    ``(doc_id, feat_idx, feat_value)`` — one row per vector component.

    The mapInArrow stage still produces the ``array<double>`` column (the
    shape downstream similarity/dedup operators consume); the registered
    query posexplodes it because (a) long-skinny is the layout a feature
    store sinks anyway and (b) flat scalar cells are canonically hashable
    by any comparator, where array cells are not.
    """
    cat = Catalog(spark, sf_dir)
    vecs = binary_table(cat).mapInArrow(_feature_batches, _FEAT_SCHEMA)
    return vecs.select(
        "doc_id", F.posexplode("feature").alias("feat_idx", "feat_value")
    ).withColumn("feat_idx", F.col("feat_idx").cast("long"))
