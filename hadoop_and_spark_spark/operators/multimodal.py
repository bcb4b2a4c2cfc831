"""Multimodal-column plumbing: opaque binary media + typed metadata.

Driver-mandated extension (SURVEY §7 M7): treat image/audio/video as
opaque ``binary`` columns and run decode / feature-extract /
frame-sample as Arrow-batched Pandas UDFs (``mapInPandas``).

The corpora carry no media files (see below), so ``multimodal_decode``
runs the fake-decode kernel ``_decode_batches`` — a deterministic
function of the byte payload (documented below) — keeping the full
Spark-side machinery (binary column through Arrow, batch iteration,
output schema, downstream relational ops) real and oracle-checked
end-to-end.

Real-decode scope (a deliberate boundary, not a stub): the kernel
``_decode_batches_real`` runs ``_decode_real`` per row and takes the
fake kernel's place in ``mapInPandas`` for a caller whose payloads
are real media. Its BUILT-IN support is header metadata for the
five container formats with fully public, dependency-free layouts —
BMP, PNG (IHDR), JPEG (SOFn), RIFF/WAVE PCM, MP4/ISO-BMFF
(mvhd+stts) — all fixture-pinned in tests. When Pillow is importable
it additionally decodes image PIXELS (true dimensions + mean-pixel
feature) for every format Pillow reads; that path is fixture-pinned
too and skipped where the library is absent. Payloads outside this
scope — malformed headers, non-ISO-BMFF video containers, compressed
audio/video sample data — raise ``UnsupportedMediaError`` by design:
full codec decode belongs to a GPU/codec service feeding this engine,
not to a Spark task, and the engine's contract is that such rows fail
loudly rather than silently fake-decode.

Since the testdata has no media files, media bytes are synthesized as
``encode(text, 'UTF-8')`` with a media_type assigned by doc_id % 3 —
again deterministic, so the DuckDB oracle reproduces it with
``encode()``/``octet_length()``.

Fake-decode contract (n = octet_length(media)):
- image: width 64+(31n mod 1024), height 64+(17n mod 768), 1 frame
- audio: duration_ms 10n
- video: width/height as image, duration_ms 10n, 1+(n mod 30) frames
- feature = ((2654435761 · n) mod 1000003) / 1000003  (all types)

Scale notes (100 TB of media):
- ``mapInPandas`` streams Arrow record batches; cap batch bytes via
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` when rows carry
  megabyte blobs so executor memory stays bounded.
- Decode is embarrassingly parallel — no shuffle anywhere in
  ``multimodal_decode``; ``multimodal_frames`` adds only an explode
  (narrow). Partition count follows the parquet splits.
- Real decoders should be initialized once per worker (module-level
  lazy init inside the UDF), not per batch.

Reference parity: no multimodal surface exists in the reference; the
Arrow-batch kernel shape mirrors our SGD trainer (operators/ml.py),
the only other sanctioned Python-side kernel.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import load_table
from ..session import fan_out_local_sorted

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd

FEATURE_MOD = 1_000_003
FEATURE_MULT = 2_654_435_761
FRAME_STRIDE = 4  # sample every 4th frame

DECODE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("feature", T.DoubleType()),
    ]
)

_TYPES = ("image", "audio", "video")


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# JPEG start-of-frame markers carrying dimensions: C0–CF minus the
# non-SOF members DHT (C4), JPG (C8), DAC (CC).
_JPEG_SOF = {m for m in range(0xC0, 0xD0)} - {0xC4, 0xC8, 0xCC}


def _png_dims(b: bytes) -> tuple[int, int] | None:
    """PNG width/height from the IHDR chunk (must be first by spec):
    big-endian u32 pair at offsets 16/20 after the 8-byte signature
    and the IHDR length/type words."""
    import struct

    if b[:8] != _PNG_SIG or len(b) < 24 or b[12:16] != b"IHDR":
        return None
    return struct.unpack_from(">II", b, 16)


def _jpeg_dims(b: bytes) -> tuple[int, int] | None:
    """JPEG width/height from the first SOFn segment: walk the marker
    stream (length-prefixed segments, standalone RST/SOI/EOI/TEM skip
    bare) up to start-of-scan; SOFn payload is precision u8, height
    u16be, width u16be."""
    import struct

    if b[:2] != b"\xff\xd8":
        return None
    off, n = 2, len(b)
    while off + 4 <= n:
        if b[off] != 0xFF:
            return None  # marker desync — not a parseable stream
        marker = b[off + 1]
        if marker == 0xFF:  # fill byte
            off += 1
            continue
        if marker in (0xD8, 0xD9, 0x01) or 0xD0 <= marker <= 0xD7:
            off += 2  # standalone marker, no length word
            continue
        (seg_len,) = struct.unpack_from(">H", b, off + 2)
        if marker in _JPEG_SOF and off + 9 <= n:
            height, width = struct.unpack_from(">HH", b, off + 5)
            return width, height
        if marker == 0xDA:  # start of scan — SOF must precede it
            return None
        off += 2 + seg_len
    return None


def _mp4_boxes(b: bytes, start: int, end: int):
    """Iterate ISO-BMFF boxes in b[start:end] as (type, body_start,
    body_end). Handles 64-bit largesize (size==1); stops on size 0
    (box extends to end) or malformed lengths."""
    import struct

    off = start
    while off + 8 <= end:
        (size,) = struct.unpack_from(">I", b, off)
        typ = b[off + 4 : off + 8]
        body = off + 8
        if size == 1:
            if off + 16 > end:
                return
            (size,) = struct.unpack_from(">Q", b, off + 8)
            body = off + 16
        elif size == 0:
            size = end - off
        if size < 8 or off + size > end:
            return
        yield typ, body, off + size
        off += size


def _mp4_meta(b: bytes) -> tuple[int, int] | None:
    """(duration_ms, n_frames) from an ISO-BMFF (MP4) header:
    moov/mvhd carries timescale + duration (version 0: u32 pair at
    offsets 12/16 of the box body; version 1: u32 timescale at 20,
    u64 duration at 24); n_frames = max over traks of the stts
    sample-count sum (0 if no stts — duration-only files parse too).
    Requires a leading ftyp box — the MP4 signature."""
    import struct

    n = len(b)
    if n < 12 or b[4:8] != b"ftyp":
        return None
    duration_ms = None
    frames = 0
    for typ, s, e in _mp4_boxes(b, 0, n):
        if typ != b"moov":
            continue
        for t2, s2, e2 in _mp4_boxes(b, s, e):
            if t2 == b"mvhd" and s2 + 4 <= e2:
                version = b[s2]
                if version == 1 and s2 + 32 <= e2:
                    (scale,) = struct.unpack_from(">I", b, s2 + 20)
                    (dur,) = struct.unpack_from(">Q", b, s2 + 24)
                elif version == 0 and s2 + 20 <= e2:
                    scale, dur = struct.unpack_from(">II", b, s2 + 12)
                else:
                    continue
                if scale:
                    duration_ms = dur * 1000 // scale
            elif t2 == b"trak":
                for t3, s3, e3 in _mp4_boxes(b, s2, e2):
                    if t3 != b"mdia":
                        continue
                    for t4, s4, e4 in _mp4_boxes(b, s3, e3):
                        if t4 != b"minf":
                            continue
                        for t5, s5, e5 in _mp4_boxes(b, s4, e4):
                            if t5 != b"stbl":
                                continue
                            for t6, s6, e6 in _mp4_boxes(b, s5, e5):
                                if t6 != b"stts" or s6 + 8 > e6:
                                    continue
                                (n_ent,) = struct.unpack_from(">I", b, s6 + 4)
                                tot = 0
                                for i in range(n_ent):
                                    p = s6 + 8 + 8 * i
                                    if p + 8 > e6:
                                        break
                                    (cnt,) = struct.unpack_from(">I", b, p)
                                    tot += cnt
                                frames = max(frames, tot)
    if duration_ms is None:
        return None
    return duration_ms, frames


class UnsupportedMediaError(ValueError):
    """Payload outside ``_decode_real``'s documented scope — a data
    error (reject/quarantine the row), not a missing feature."""


def _pil_decode(b: bytes) -> dict | None:
    """Optional PIXEL decode for images via Pillow, engaged only when
    the library is importable (it is not baked into this container).
    Initialized once per worker by the import system; returns None
    when Pillow is absent or cannot parse the payload, letting the
    caller raise the scope error. feature = mean pixel intensity /
    255 over a greyscale view — a real embedding model slots in at
    exactly this point."""
    try:
        from PIL import Image
    except ImportError:
        return None
    import io

    try:
        with Image.open(io.BytesIO(b)) as im:
            w, h = im.size
            grey = im.convert("L")
            data = grey.tobytes()
    except Exception:  # noqa: BLE001 — undecodable ⇒ scope error
        return None
    feature = (sum(data) / len(data) / 255.0) if data else 0.0
    return {
        "n_bytes": len(b),
        "width": w,
        "height": h,
        "duration_ms": 0,
        "n_frames": 1,
        "feature": feature,
    }


def _decode_real(media: bytes, media_type: str) -> dict:
    """Real decoder for the container formats whose header layouts are
    fully public and parseable without media libraries:

    - BMP (``image``): width / |height| as little-endian int32 at
      offsets 18 / 22 of the BITMAPINFOHEADER (height negative for
      top-down files).
    - PNG (``image``): big-endian u32 width/height from the mandatory
      leading IHDR chunk.
    - JPEG (``image``): u16be height/width from the first SOFn
      (start-of-frame) marker segment.
    - RIFF/WAVE PCM (``audio``): walk the chunk list; duration_ms =
      data-chunk bytes · 1000 / byte-rate from the fmt chunk.
    - MP4/ISO-BMFF (``video``): box walk to moov/mvhd for
      timescale+duration; n_frames = stts sample-count sum (METADATA
      only — actual frame pixel decode still needs ffmpeg; the
      frame-sampling query consumes exactly these header fields).

    feature = mean payload byte / 255 (a real embedding model slots in
    here). Images the header parsers can't read fall through to the
    OPTIONAL Pillow pixel decoder when the library is present;
    everything else raises ``UnsupportedMediaError`` — the module
    docstring's scope boundary."""
    import struct

    b = bytes(media)
    n = len(b)
    feature = (sum(b) / n / 255.0) if n else 0.0
    if media_type == "image":
        dims = None
        if b[:2] == b"BM" and n >= 26:
            dims = (
                struct.unpack_from("<i", b, 18)[0],
                abs(struct.unpack_from("<i", b, 22)[0]),
            )
        else:
            dims = _png_dims(b) or _jpeg_dims(b)
        if dims is not None:
            return {
                "n_bytes": n,
                "width": dims[0],
                "height": dims[1],
                "duration_ms": 0,
                "n_frames": 1,
                "feature": feature,
            }
    if media_type == "audio" and b[:4] == b"RIFF" and b[8:12] == b"WAVE":
        byte_rate = data_len = 0
        off = 12
        while off + 8 <= n:
            cid = b[off : off + 4]
            (clen,) = struct.unpack_from("<I", b, off + 4)
            if cid == b"fmt " and off + 16 + 8 <= n:
                (byte_rate,) = struct.unpack_from("<I", b, off + 16)
            elif cid == b"data":
                data_len = clen
            off += 8 + clen + (clen & 1)  # chunks are word-aligned
        if byte_rate:
            return {
                "n_bytes": n,
                "width": 0,
                "height": 0,
                "duration_ms": data_len * 1000 // byte_rate,
                "n_frames": 0,
                "feature": feature,
            }
    if media_type == "video":
        meta = _mp4_meta(b)
        if meta is not None:
            duration_ms, frames = meta
            return {
                "n_bytes": n,
                "width": 0,  # mvhd has no dims; tkhd parse out of scope
                "height": 0,
                "duration_ms": duration_ms,
                "n_frames": frames,
                "feature": feature,
            }
    if media_type == "image":
        pil = _pil_decode(b)
        if pil is not None:
            return pil
    raise UnsupportedMediaError(
        f"{media_type} payload outside the engine's decode scope "
        "(built-in: BMP/PNG/JPEG/WAV/ISO-BMFF headers; optional: "
        "Pillow-readable image pixels). Full codec decode is a "
        "pre-processing service's job, not a Spark task's — such rows "
        "must fail loudly, not silently fake-decode."
    )


def _decode_batches(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
    """mapInPandas kernel: one Arrow batch in, one metadata batch out.

    Vectorized over the batch; touches the raw bytes only through
    ``len`` (the fake decode) — the real-header twin is
    ``_decode_batches_real``.
    """
    import pandas as pd

    for pdf in batches:
        if pdf["media"].isna().any():
            # _media_table filters null payloads; one reaching decode
            # is a data error — fail loudly with the scope error, not
            # a TypeError from len(None).
            raise UnsupportedMediaError("null media payload")
        n = pdf["media"].map(len).astype("int64")
        mt = pdf["media_type"]
        is_visual = mt.isin(["image", "video"])
        is_timed = mt.isin(["audio", "video"])
        out = pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].astype("int64"),
                "media_type": mt,
                "n_bytes": n,
                "width": (64 + (31 * n) % 1024).where(is_visual, 0),
                "height": (64 + (17 * n) % 768).where(is_visual, 0),
                "duration_ms": (10 * n).where(is_timed, 0),
                "n_frames": (1 + n % 30).where(
                    mt == "video", is_visual.astype("int64")
                ),
                "feature": ((FEATURE_MULT * n) % FEATURE_MOD) / float(FEATURE_MOD),
            }
        )
        yield out


def _decode_batches_real(
    batches: Iterator["pd.DataFrame"],
) -> Iterator["pd.DataFrame"]:
    """mapInPandas kernel running the REAL per-row header parsers
    (BMP/PNG/JPEG/WAV/ISO-BMFF) on real media payloads; the
    synthesized corpus payloads are outside its scope and raise
    ``UnsupportedMediaError``. Row-at-a-time inside the Arrow batch — inherent to
    decoding; the Arrow transfer and schema are shared with the fake
    kernel."""
    import pandas as pd

    cols = [f.name for f in DECODE_SCHEMA]
    for pdf in batches:
        rows = [
            {"doc_id": int(d), "media_type": t, **_decode_real(m, t)}
            for d, m, t in zip(pdf["doc_id"], pdf["media"], pdf["media_type"])
        ]
        yield pd.DataFrame(rows, columns=cols)


FEAT_BUCKETS = 16

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("features", T.ArrayType(T.DoubleType())),
    ]
)


def _features_batches(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
    """Feature-extraction kernel: normalized byte-residue histogram
    (FEAT_BUCKETS dims) per blob. Unlike the decode stub this touches
    every payload byte — the real data path a learned feature
    extractor would take; swapping in a CLIP/ResNet forward pass
    changes only this function's body, not the plumbing."""
    import numpy as np
    import pandas as pd

    for pdf in batches:
        feats = []
        for b in pdf["media"]:
            arr = np.frombuffer(bytes(b), dtype=np.uint8)
            hist = np.bincount(
                arr % FEAT_BUCKETS, minlength=FEAT_BUCKETS
            ).astype(np.float64)
            feats.append([float(x) for x in hist / max(len(arr), 1)])
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].astype("int64"),
                "n_bytes": pdf["media"].map(len).astype("int64"),
                "features": feats,
            }
        )


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-extract over the media blobs: a FEAT_BUCKETS-dim
    normalized byte-histogram per document, exploded to one
    (doc_id, n_bytes, bucket, share) row per dimension so the result
    is driver-checkable (the harness hashes pandas frames and cannot
    canonicalize list cells — the r3 red row).

    Same Arrow-batched plan shape as multimodal_decode — no shuffle,
    one Python pass per blob — but the kernel reads the actual bytes,
    so this pins the full binary→Arrow→numpy→array-column path. The
    array stays internal to the kernel; ``posexplode`` flattens it
    JVM-side (narrow, no second Python pass). The embedding-shaped
    array form a downstream similarity/dedup stage would consume is
    ``multimodal_feature_vectors``. The DuckDB oracle recomputes the
    histogram from hex-pair byte decoding, exactly (integer counts,
    one double division per bucket — the same nearest-double on both
    engines)."""
    return multimodal_feature_vectors(spark, sf_dir).select(
        "doc_id",
        "n_bytes",
        F.posexplode("features").alias("bucket", "share"),
    )


def multimodal_feature_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The array<double> form of the byte-histogram features — the
    shape similarity/dedup operators consume (not registered with the
    driver: list cells break its pandas canonicalizer; pinned by
    tests/test_multimodal.py instead)."""
    media = fan_out_local_sorted(_media_table(spark, sf_dir), "doc_id")
    return media.mapInPandas(_features_batches, schema=FEATURES_SCHEMA)


def _media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → synthetic media: binary payload + modality tag.

    NULL text rows are excluded: a media catalog holds blobs, and
    encode(NULL) is not a blob — a missing payload is an ingestion
    gap to fix upstream, never a row the decode kernels should see
    (the oracles carry the same WHERE)."""
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    mt = F.element_at(
        F.array(*[F.lit(t) for t in _TYPES]), (F.col("doc_id") % 3 + 1).cast("int")
    )
    return docs.select(
        "doc_id",
        F.encode("text", "UTF-8").alias("media"),
        mt.alias("media_type"),
    )


def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode metadata for every media blob via Arrow-batched
    ``mapInPandas`` (the one genuinely Python-side stage).

    The doc_id sort happens on the cheap (scan + encode) input, not
    the kernel output: sorting after mapInPandas would make the
    range-partition sampling pass run the Python kernel a second
    time. fan_out_local_sorted rather than a global sort: the fan-out
    keeps one task per core locally and disappears at scale (input
    splits >> cores), and the within-partition doc_id order is all a
    corpus-sized output should pay for. The kernel is
    1-row-in/1-row-out, so it preserves the partition-local sort.
    """
    media = fan_out_local_sorted(_media_table(spark, sf_dir), "doc_id")
    return media.mapInPandas(_decode_batches, schema=DECODE_SCHEMA)


def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling for video rows: every FRAME_STRIDE-th frame
    index with its byte offset — pure relational explode downstream of
    the decode kernel (JVM-side again).

    No final orderBy: the decode input is already doc_id-sorted and
    explode(sequence(...)) emits frame_idx ascending per row, so the
    output arrives (doc_id, frame_idx)-ordered without a second sort
    (which would re-run the Python kernel in its sampling pass).
    """
    meta = multimodal_decode(spark, sf_dir)
    frames = (
        meta.where(F.col("media_type") == "video")
        .select(
            "doc_id",
            "n_bytes",
            "n_frames",
            F.explode(
                F.sequence(
                    F.lit(0), F.col("n_frames") - 1, F.lit(FRAME_STRIDE)
                )
            ).alias("frame_idx"),
        )
        .select(
            "doc_id",
            "frame_idx",
            F.floor(
                F.col("frame_idx")
                * (
                    F.col("n_bytes").cast("double")
                    / F.col("n_frames").cast("double")
                )
            )
            .cast("long")
            .alias("byte_offset"),
        )
    )
    return frames


_N = "octet_length(encode(text))::BIGINT"
_MT = "CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END"

ORACLE_SQL: dict[str, str] = {
    "multimodal_decode": f"""
        WITH m AS (SELECT doc_id, {_N} AS n, {_MT} AS media_type FROM documents
                   WHERE text IS NOT NULL)
        SELECT doc_id, media_type, n AS n_bytes,
               CASE WHEN media_type IN ('image','video')
                    THEN 64 + (31 * n) % 1024 ELSE 0 END AS width,
               CASE WHEN media_type IN ('image','video')
                    THEN 64 + (17 * n) % 768 ELSE 0 END AS height,
               CASE WHEN media_type IN ('audio','video')
                    THEN 10 * n ELSE 0 END AS duration_ms,
               CASE media_type WHEN 'video' THEN 1 + n % 30
                               WHEN 'image' THEN 1 ELSE 0 END AS n_frames,
               (({FEATURE_MULT}::BIGINT * n) % {FEATURE_MOD})
                   / {FEATURE_MOD}.0 AS feature
        FROM m ORDER BY doc_id
    """,
    "multimodal_frames": f"""
        WITH m AS (SELECT doc_id, {_N} AS n FROM documents
                   WHERE doc_id % 3 = 2 AND text IS NOT NULL),
        v AS (SELECT doc_id, n, 1 + n % 30 AS n_frames FROM m)
        SELECT doc_id, unnest(range(0, n_frames, {FRAME_STRIDE})) AS frame_idx,
               floor(unnest(range(0, n_frames, {FRAME_STRIDE}))
                     * (n::DOUBLE / n_frames::DOUBLE))::BIGINT AS byte_offset
        FROM v ORDER BY doc_id, frame_idx
    """,
}

# Byte residue b % 16 is the LOW hex digit of the byte, so the oracle
# decodes it straight from each byte's second hex char. One row per
# (doc, bucket) — mirrors the Spark side's posexplode.
ORACLE_SQL["multimodal_features"] = f"""
    WITH m AS (SELECT doc_id, encode(text) AS b FROM documents
              WHERE text IS NOT NULL),
    by AS (
        SELECT doc_id, octet_length(b)::BIGINT AS n,
               list_transform(range(1, octet_length(b) + 1),
                   i -> strpos('0123456789ABCDEF',
                               substr(hex(b), 2 * i, 1)) - 1) AS residues
        FROM m
    )
    SELECT doc_id, n AS n_bytes, k::INT AS bucket,
           len(list_filter(residues, r -> r = k))::DOUBLE
               / greatest(n, 1) AS share
    FROM by, range(0, {FEAT_BUCKETS}) t(k)
    ORDER BY doc_id, bucket
"""

QUERIES = {
    "multimodal_decode": multimodal_decode,
    "multimodal_frames": multimodal_frames,
    "multimodal_features": multimodal_features,
}
