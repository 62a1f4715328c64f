"""Multimodal (image/audio/video) column plumbing (north-star extension).

Design: media are opaque ``binary`` columns travelling next to a typed
metadata struct.  Decode / feature-extract / resize / frame-sample run as
Arrow-batched pandas iterators (``mapInPandas``) — the sanctioned escape
hatch when JVM expressions can't express the semantics.  The actual
codec calls are STUBBED (image/audio libraries are not in this
container): ``decode_stub=True`` substitutes a deterministic fake decode
so the Spark-side plumbing — schema, batch shape, partitioning — is real
and tested; swapping in PIL/ffmpeg later changes one inner function.

100 TB posture:
  * binary payloads never hit the driver; batches stream executor-side
    through Arrow (zero-copy into pandas).
  * ``repartition`` before heavy decode balances work when payload sizes
    are skewed (a few huge videos starve fixed partitions).
  * metadata-only queries (the common case) never touch the binary
    column — column pruning drops it at the parquet scan.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("media_type", StringType(), True),  # image|audio|video
        StructField("payload", BinaryType(), True),
        StructField("source_uri", StringType(), True),
    ]
)

DECODED_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("media_type", StringType(), True),
        StructField("byte_len", LongType(), True),
        StructField("content_md5", StringType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("n_frames", IntegerType(), True),
    ]
)


def _fake_decode(payload: bytes, media_type: str) -> tuple[int, int, int]:
    """Deterministic stand-in for a real codec: derives (width, height,
    n_frames) from the payload hash.  Replace with PIL / soundfile /
    pyav in a real deployment."""
    import hashlib

    h = hashlib.md5(payload).digest()
    width = 16 + h[0] % 240
    height = 16 + h[1] % 240
    n_frames = 1 if media_type == "image" else 1 + h[2] % 64
    return width, height, n_frames


def _real_decode(payload: bytes, media_type: str):
    """Attempt a real codec decode (import-try: an environment that ships
    PIL / soundfile is picked up automatically; this container doesn't).

    Returns (width, height, n_frames), or None when the codec library is
    absent — caller falls back to the stub.  A payload the present codec
    cannot parse decodes to (None, None, None): petl-style error-as-null
    (SURVEY §4.3.3), never a task failure.
    """
    import io

    if media_type == "image":
        try:
            from PIL import Image  # noqa: F401
        except ImportError:
            return None
        try:
            img = Image.open(io.BytesIO(payload))
            return img.width, img.height, int(getattr(img, "n_frames", 1))
        except Exception:
            return (None, None, None)
    if media_type == "audio":
        try:
            import soundfile  # noqa: F401
        except ImportError:
            return None
        try:
            info = soundfile.info(io.BytesIO(payload))
            return int(info.channels), int(info.samplerate), int(info.frames)
        except Exception:
            return (None, None, None)
    # video: no lightweight standard lib — stub until pyav integration
    return None


def decode_media(df: DataFrame, decode_stub: bool = True) -> DataFrame:
    """Decode a MEDIA_SCHEMA frame into DECODED_SCHEMA via Arrow-batched
    ``mapInPandas``.

    ``decode_stub=True`` (default): deterministic fake decode — the
    oracle-checkable mode.  ``decode_stub=False``: try the real codec
    first (import-try, executor-side) and fall back to the stub per
    media item when the library is absent, so the same plan transparently
    upgrades in an environment that ships PIL/soundfile."""

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import hashlib

        import pandas as pd

        for pdf in it:
            rows = []
            for media_id, media_type, payload in zip(
                pdf["media_id"], pdf["media_type"], pdf["payload"]
            ):
                raw = bytes(payload) if payload is not None else b""
                decoded = None if decode_stub else _real_decode(raw, media_type)
                if decoded is None:
                    w, h, nf = _fake_decode(raw, media_type)
                else:
                    w, h, nf = decoded
                rows.append(
                    (
                        media_id,
                        media_type,
                        len(raw),
                        hashlib.md5(raw).hexdigest(),
                        w,
                        h,
                        nf,
                    )
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in DECODED_SCHEMA.fields]
            )

    return df.mapInPandas(batches, DECODED_SCHEMA)


FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("frame_idx", IntegerType(), False),
        StructField("frame_md5", StringType(), True),
    ]
)


def sample_frames(decoded: DataFrame, every_k: int = 8) -> DataFrame:
    """Frame sampling: one output row per k-th frame of each video/audio
    item — a 1→N pandas iterator (the UDTF shape for media).  The frame
    payload extraction is stubbed (deterministic md5 of id+idx); the
    Spark-side contract (schema, fan-out, batch iteration) is real.

    Scale note: fan-out happens inside the Arrow batch iterator — no
    shuffle; downstream per-frame work keys on (media_id, frame_idx)."""

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import hashlib

        import pandas as pd

        for pdf in it:
            out = []
            for media_id, n_frames in zip(pdf["media_id"], pdf["n_frames"]):
                for idx in range(0, int(n_frames), every_k):
                    out.append(
                        (
                            media_id,
                            idx,
                            hashlib.md5(f"{media_id}|{idx}".encode()).hexdigest(),
                        )
                    )
            yield pd.DataFrame(
                out, columns=[f.name for f in FRAME_SCHEMA.fields]
            )

    return decoded.select("media_id", "n_frames").mapInPandas(batches, FRAME_SCHEMA)


def sample_frames_native(decoded: DataFrame, every_k: int = 8) -> DataFrame:
    """``sample_frames``'s whole-stage-codegen twin: because the frame
    payload extraction is stubbed to a deterministic hash, the 1→N
    fan-out needs nothing from Python — ``posexplode``-style native
    ``explode(sequence(0, n_frames−1, k))`` plus an ``md5(concat(...))``
    column reproduce the identical rows JVM-side (VERDICT r10 item 6:
    one fewer python_eval; mapInPandas stays only where the real codec
    would run, i.e. ``decode_media``).  When a real codec lands, the
    per-frame EXTRACTION moves back behind ``sample_frames``'s batch
    iterator; the fan-out arithmetic itself never needed Python.

    Scale: explode of a generated sequence is linear, no shuffle, and
    stays inside codegen — strictly dominates the Arrow round-trip."""
    idx = F.explode(
        F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(every_k))
    ).alias("frame_idx")
    return decoded.select("media_id", F.col("n_frames")).select(
        "media_id",
        idx,
    ).select(
        "media_id",
        F.col("frame_idx").cast("int").alias("frame_idx"),
        F.md5(
            F.concat(
                F.col("media_id").cast("string"),
                F.lit("|"),
                F.col("frame_idx").cast("string"),
            )
        ).alias("frame_md5"),
    )


def resize_meta(decoded: DataFrame, max_side: int = 64) -> DataFrame:
    """Resize planning as a pure Column expression: target dims scaled so
    the longer side == max_side, aspect preserved (integer floor).  The
    actual pixel resample would live in the decode stub; the metadata
    contract is the real engine surface."""
    scale = F.least(
        F.lit(float(max_side)) / F.col("width"),
        F.lit(float(max_side)) / F.col("height"),
    )
    return decoded.select(
        "media_id",
        "width",
        "height",
        F.floor(F.col("width") * scale).cast("int").alias("target_width"),
        F.floor(F.col("height") * scale).cast("int").alias("target_height"),
    )


def media_from_documents(docs: DataFrame) -> DataFrame:
    """Build a synthetic MEDIA_SCHEMA frame from the documents table
    (text → utf-8 bytes as the payload) — test fixture generator that
    exercises the binary-column path with real Spark types."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
        .alias("media_type"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.concat(F.lit("synthetic://"), F.col("doc_id")).alias("source_uri"),
    )

