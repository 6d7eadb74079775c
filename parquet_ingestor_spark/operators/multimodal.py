"""Multimodal column plumbing: opaque binary payloads + typed metadata.

The pattern for image/audio/video at 100 TB: store blobs as a
``binary`` column (or a URI pointer column for objects > a few MB) next
to a typed metadata struct, and run decode/feature-extraction as
Arrow-batched ``mapInPandas`` stages, so each Python worker touches one
columnar batch at a time and the shuffle/partition story stays pure
Spark.

Decode is REAL for codec-free formats: PPM (P6), uncompressed 24-bit
BMP, and PCM WAV parse with numpy/stdlib alone (``decode_ppm``,
``decode_bmp``, ``decode_wav_pcm``, composed by
``extract_media_features``) — verified against ground-truth pixel/
sample arrays. Compressed codecs (JPEG/PNG/MP3 — PIL/ffmpeg/librosa
absent from this container) remain honestly stubbed:
``decode_image_batch(real_decode=True)`` raises
``NotImplementedError`` and the feature stage passes those rows
through with null features. The Spark-side contract — schema, batch
iteration, UDF signature, partition behavior — is identical for both
branches, so adding a codec library changes only the per-format line.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..catalog import table
from ..checkpointing import truncate_lineage
from ..functions import seq_md5_int
from ..queries import register

#: Output schema of the decode/feature-extract stage.
MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("width", T.LongType(), True),
        T.StructField("height", T.LongType(), True),
    ]
)


def decode_image_batch(
    payloads: pd.Series, real_decode: bool = False
) -> pd.DataFrame:
    """Per-batch 'decode': bytes → (n_bytes, width, height).

    STUB: real decoding needs an image codec library absent from this
    environment. The deterministic fake keeps the pipeline testable —
    width/height are the first/last payload byte values.
    """
    if real_decode:
        raise NotImplementedError(
            "image codecs (PIL/opencv) are not available in this "
            "environment; run with real_decode=False for the "
            "deterministic stub"
        )
    n_bytes = payloads.map(len)
    return pd.DataFrame(
        {
            "n_bytes": n_bytes.astype("int64"),
            "width": payloads.map(lambda b: b[0] if len(b) else None),
            "height": payloads.map(lambda b: b[-1] if len(b) else None),
        }
    )


def extract_media_metadata(
    media: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """mapInPandas decode stage: (id, binary payload) → typed metadata.

    Arrow moves whole columnar batches across the Python boundary —
    this is the only sanctioned Python hot path in the engine (10-100×
    the throughput of a row-at-a-time UDF).
    """

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            meta = decode_image_batch(pdf[payload_col])
            meta.insert(0, "doc_id", pdf[id_col].astype("int64").values)
            yield meta

    return media.select(id_col, payload_col).mapInPandas(
        _decode, schema=MEDIA_META_SCHEMA
    )


N_FRAMES = 4

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("frame_idx", T.LongType(), False),
        T.StructField("frame_val", T.LongType(), False),
    ]
)


def sample_frames_batch(pdf: pd.DataFrame, n_frames: int = N_FRAMES) -> pd.DataFrame:
    """Per-batch frame sampling: pick n_frames evenly-spaced bytes from
    each payload — the shape of video frame-sampling / audio windowing
    (STUB: a real decoder would seek keyframes; positions and count
    are the real contract)."""
    rows = []
    for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
        size = len(payload)
        if size == 0:
            continue
        step = max(1, size // n_frames)
        for k in range(n_frames):
            pos = k * step
            if pos >= size:
                break
            rows.append((int(doc_id), k, payload[pos]))
    return pd.DataFrame(rows, columns=["doc_id", "frame_idx", "frame_val"])


def sample_frames(
    media: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """mapInPandas frame-sampling stage: 1→N rows per media blob."""

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield sample_frames_batch(
                pdf.rename(columns={id_col: "doc_id", payload_col: "payload"})
            )

    return media.select(id_col, payload_col).mapInPandas(
        _sample, schema=FRAME_SCHEMA
    )


# The operators index BYTES (the honest contract for binary media),
# but DuckDB SQL cannot byte-index a BLOB, so the oracle comparison
# normalizes the stand-in payload to ASCII on BOTH sides — char and
# byte indexing then agree and a non-ASCII documents.text cannot
# silently desynchronize the differential.
_ASCII_ONLY = r"[^\x00-\x7F]"


def _ascii_payload(docs: DataFrame) -> DataFrame:
    return docs.select(
        "doc_id",
        F.encode(
            F.regexp_replace(F.col("text"), _ASCII_ONLY, ""), "UTF-8"
        ).alias("payload"),
    )


@register(
    "multimodal_frame_sample",
    oracle=rf"""
        WITH a AS (
            SELECT doc_id,
                   regexp_replace(text, '[^\x00-\x7F]', '', 'g') AS t
            FROM documents
        ), f AS (
            SELECT doc_id, t, length(t) AS sz,
                   greatest(1, length(t) // {N_FRAMES}) AS step,
                   unnest(range({N_FRAMES})) AS frame_idx
            FROM a
        )
        SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
               CAST(ascii(substring(t, CAST(frame_idx * step + 1 AS INTEGER), 1))
                    AS BIGINT) AS frame_val
        FROM f
        WHERE frame_idx * step < sz
        ORDER BY doc_id, frame_idx
    """,
    doc="Frame sampling over binary media blobs (1→N mapInPandas): "
    "evenly-spaced byte probes stand in for keyframe extraction.",
    tags=("multimodal",),
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = _ascii_payload(table(spark, sf_dir, "documents"))
    return sample_frames(media).orderBy("doc_id", "frame_idx")


@register(
    "multimodal_meta",
    oracle=r"""
        WITH a AS (
            SELECT doc_id,
                   regexp_replace(text, '[^\x00-\x7F]', '', 'g') AS t
            FROM documents
        )
        SELECT doc_id,
               CAST(octet_length(encode(t)) AS BIGINT) AS n_bytes,
               CASE WHEN length(t) > 0
                    THEN CAST(ascii(substring(t, 1, 1)) AS BIGINT) END
                   AS width,
               CASE WHEN length(t) > 0
                    THEN CAST(ascii(substring(t, length(t), 1)) AS BIGINT) END
                   AS height
        FROM a
        ORDER BY doc_id
    """,
    doc="Binary-column decode plumbing: documents.text encoded to bytes "
    "stands in for a media blob; mapInPandas extracts typed metadata.",
    tags=("multimodal",),
)
def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = _ascii_payload(table(spark, sf_dir, "documents"))
    return extract_media_metadata(media).orderBy("doc_id")


# ---------------------------------------------------------------------------
# REAL decode for codec-free formats
#
# PPM (P6), uncompressed 24-bit BMP, and PCM WAV need no codec
# library — pure numpy/stdlib parsing. Compressed formats (JPEG, PNG,
# MP3) still raise NotImplementedError: honesty about what this
# container can decode is the contract; the mapInPandas plumbing is
# identical either way, so swapping in PIL/ffmpeg later changes only
# the per-format branch.


def sniff_format(b: bytes) -> str:
    """Magic-byte format detection for the supported media families."""
    if b[:2] == b"P6":
        return "ppm"
    if b[:2] == b"BM":
        return "bmp"
    if b[:4] == b"RIFF" and b[8:12] == b"WAVE":
        return "wav"
    if b[:3] == b"\xff\xd8\xff":
        return "jpeg"
    if b[:8] == b"\x89PNG\r\n\x1a\n":
        return "png"
    return "unknown"


def decode_ppm(b: bytes):
    """Binary PPM (P6, maxval ≤ 255) → (h, w, 3) uint8 numpy array."""
    import re

    import numpy as np

    m = re.match(rb"P6\s+(?:#[^\n]*\s+)?(\d+)\s+(\d+)\s+(\d+)[ \t\r\n]", b)
    if not m:
        raise ValueError("malformed PPM header")
    w, h, maxval = (int(m.group(i)) for i in (1, 2, 3))
    if maxval > 255:
        raise ValueError("16-bit PPM unsupported")
    data = np.frombuffer(b, dtype=np.uint8, count=w * h * 3, offset=m.end())
    return data.reshape(h, w, 3)


def decode_bmp(b: bytes):
    """Uncompressed 24-bit bottom-up BMP → (h, w, 3) uint8 RGB array."""
    import struct

    import numpy as np

    if b[:2] != b"BM":
        raise ValueError("not a BMP")
    data_offset = struct.unpack_from("<I", b, 10)[0]
    header_size, w, h = struct.unpack_from("<Iii", b, 14)
    planes, bpp = struct.unpack_from("<HH", b, 26)
    compression = struct.unpack_from("<I", b, 30)[0]
    if header_size < 40 or bpp != 24 or compression != 0 or h <= 0:
        raise ValueError("only uncompressed 24-bit bottom-up BMP supported")
    row_bytes = (w * 3 + 3) & ~3  # rows pad to 4-byte boundaries
    px = np.frombuffer(
        b, dtype=np.uint8, count=row_bytes * h, offset=data_offset
    ).reshape(h, row_bytes)[:, : w * 3].reshape(h, w, 3)
    # stored bottom-up as BGR → flip rows, reverse channels
    return px[::-1, :, ::-1]


def decode_wav_pcm(b: bytes):
    """PCM WAV (8/16-bit) → (samples ndarray [n, channels], rate)."""
    import io
    import wave

    import numpy as np

    with wave.open(io.BytesIO(b)) as wf:
        rate = wf.getframerate()
        n = wf.getnframes()
        width = wf.getsampwidth()
        ch = wf.getnchannels()
        raw = wf.readframes(n)
    if width == 2:
        arr = np.frombuffer(raw, dtype="<i2")
    elif width == 1:
        arr = np.frombuffer(raw, dtype=np.uint8).astype(np.int16) - 128
    else:
        raise ValueError("only 8/16-bit PCM WAV supported")
    return arr.reshape(-1, ch), rate


#: Unified per-blob feature row: image fields null for audio and vice
#: versa; compressed formats carry only (fmt, n_bytes).
MEDIA_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("fmt", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("width", T.LongType(), True),
        T.StructField("height", T.LongType(), True),
        T.StructField("mean_luma", T.DoubleType(), True),
        T.StructField("n_samples", T.LongType(), True),
        T.StructField("sample_rate", T.LongType(), True),
        T.StructField("rms", T.DoubleType(), True),
    ]
)


def media_features_batch(
    pdf: pd.DataFrame,
    decoders: "dict[str, object] | None" = None,
) -> pd.DataFrame:
    """Per-batch REAL feature extraction for codec-free formats.

    PPM/BMP → dimensions + mean Rec.601 luma; WAV → sample count,
    rate, RMS amplitude (int16 scale). JPEG/PNG/unknown rows pass
    through with null features — at scale those route to a decode
    service or a PIL-equipped cluster; this container cannot decode
    them and does not pretend to.

    ``decoders`` is the production injection point: a dict mapping a
    sniffed format name (``"jpeg"``, ``"png"``, …) to a callable
    ``bytes → (h, w, 3) uint8 raster``. A container with codec libs
    plugs in e.g. ``{"jpeg": pil_jpeg_decode}`` without touching the
    operator; formats without an entry keep the pass-through default.
    Callables ship to executors inside the mapInPandas closure —
    functions from importable modules pickle by reference, locally
    defined ones by value (cloudpickle); both work.
    """
    import numpy as np

    decoders = decoders or {}
    rows = []
    for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
        b = bytes(payload)
        fmt = sniff_format(b)
        width = height = mean_luma = n_samples = rate = rms = None
        try:
            if fmt == "ppm":
                px = decode_ppm(b)
            elif fmt == "bmp":
                px = decode_bmp(b)
            elif fmt in decoders:
                px = decoders[fmt](b)
            else:
                px = None
            if px is not None:
                height, width = int(px.shape[0]), int(px.shape[1])
                luma = px.astype(np.float64) @ np.array([0.299, 0.587, 0.114])
                mean_luma = float(round(luma.mean(), 4))
            elif fmt == "wav":
                arr, rate = decode_wav_pcm(b)
                n_samples = int(arr.shape[0])
                rms = float(round(np.sqrt((arr.astype(np.float64) ** 2).mean()), 4))
        except ValueError:
            fmt = "corrupt_" + fmt  # parse failure is data, not a crash
        rows.append(
            (int(doc_id), fmt, len(b), width, height, mean_luma, n_samples,
             rate, rms)
        )
    return pd.DataFrame(rows, columns=[f.name for f in MEDIA_FEATURES_SCHEMA])


def extract_media_features(
    media: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    decoders: "dict[str, object] | None" = None,
) -> DataFrame:
    """mapInPandas real-decode stage over a binary media column.
    ``decoders`` (format → bytes-to-raster callable) is the codec
    injection point — see :func:`media_features_batch`."""

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield media_features_batch(
                pdf.rename(columns={id_col: "doc_id", payload_col: "payload"}),
                decoders=decoders,
            )

    return media.select(id_col, payload_col).mapInPandas(
        _extract, schema=MEDIA_FEATURES_SCHEMA
    )


#: Resize stage output: resized raster re-encoded as binary PPM (the
#: codec-free interchange format), plus the realized dimensions.
RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("fmt", T.StringType(), False),
        T.StructField("width", T.LongType(), True),
        T.StructField("height", T.LongType(), True),
        T.StructField("resized_ppm", T.BinaryType(), True),
    ]
)


def resize_nn(px, out_w: int, out_h: int):
    """Nearest-neighbor resample of an (h, w, 3) uint8 array — pure
    numpy index arithmetic, the standard NN rule (src = floor((i+0.5)
    * in/out))."""
    import numpy as np

    in_h, in_w = px.shape[:2]
    ys = np.minimum(((np.arange(out_h) + 0.5) * in_h / out_h).astype(int), in_h - 1)
    xs = np.minimum(((np.arange(out_w) + 0.5) * in_w / out_w).astype(int), in_w - 1)
    return px[ys][:, xs]


def encode_ppm(px) -> bytes:
    """(h, w, 3) uint8 → binary PPM bytes (decode_ppm's inverse)."""
    h, w = px.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + px.tobytes()


def resize_media(
    media: DataFrame,
    out_w: int,
    out_h: int,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """mapInPandas resize stage: PPM/BMP payloads decode, NN-resample
    to (out_w, out_h), and re-encode as PPM; compressed or non-image
    payloads pass through with null raster (same honesty contract as
    the feature stage). The uniform fixed-size output raster is what a
    vision-model preprocessing pipeline feeds the patchifier."""

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                b = bytes(payload)
                fmt = sniff_format(b)
                out = w = h = None
                try:
                    if fmt == "ppm":
                        out = resize_nn(decode_ppm(b), out_w, out_h)
                    elif fmt == "bmp":
                        out = resize_nn(decode_bmp(b), out_w, out_h)
                except ValueError:
                    fmt = "corrupt_" + fmt
                if out is not None:
                    w, h = out_w, out_h
                    out = encode_ppm(out)
                rows.append((int(doc_id), fmt, w, h, out))
            yield pd.DataFrame(
                rows, columns=[f.name for f in RESIZED_SCHEMA]
            )

    return media.select(id_col, payload_col).mapInPandas(
        _resize, schema=RESIZED_SCHEMA
    )


AUDIO_WINDOW_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("win_idx", T.LongType(), False),
        T.StructField("n", T.LongType(), False),
        T.StructField("rms", T.DoubleType(), False),
    ]
)


def audio_windows(
    media: DataFrame,
    window_samples: int = 1024,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Real audio windowing: PCM WAV payloads decode and split into
    fixed-length sample windows, one (win_idx, n, rms) row each —
    the per-window energy envelope voice-activity/segmentation
    pipelines start from. 1→N mapInPandas like frame sampling;
    non-WAV payloads contribute no rows (they are the image path's
    business). Multi-channel audio folds channels into the window RMS
    (energy over all samples in the window)."""
    import numpy as np

    def _windows(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                b = bytes(payload)
                if sniff_format(b) != "wav":
                    continue
                try:
                    arr, _rate = decode_wav_pcm(b)
                except ValueError:
                    continue
                flat = arr.astype(np.float64)
                total = flat.shape[0]
                for w in range((total + window_samples - 1) // window_samples):
                    seg = flat[w * window_samples : (w + 1) * window_samples]
                    rms = float(round(np.sqrt((seg**2).mean()), 4))
                    rows.append((int(doc_id), w, int(seg.shape[0]), rms))
            yield pd.DataFrame(
                rows, columns=[f.name for f in AUDIO_WINDOW_SCHEMA]
            )

    return media.select(id_col, payload_col).mapInPandas(
        _windows, schema=AUDIO_WINDOW_SCHEMA
    )


# ---------------------------------------------------------------------------
# Perceptual hashing (pHash: resize → luma → 2D DCT-II → low-frequency
# median threshold — public algorithm, the standard image near-dup
# fingerprint) and hash-banded image near-dup pairs.

PHASH_RESIZE = 32  # luma raster fed to the DCT
PHASH_BLOCK = 8  # low-frequency block kept (drop DC → 63 bits)


def _dct_matrix(n: int):
    """Orthonormal DCT-II basis (type-II, norm='ortho')."""
    import numpy as np

    k = np.arange(n)[:, None]
    x = np.arange(n)[None, :]
    m = np.cos(np.pi * (2 * x + 1) * k / (2 * n)) * np.sqrt(2.0 / n)
    m[0] /= np.sqrt(2.0)
    return m


def phash64(px) -> int:
    """64-bit pHash of an (h, w, 3) uint8 raster: NN-resize to 32x32,
    Rec.601 luma, 2D DCT-II, keep the low-frequency 8x8 block minus
    DC, threshold at the median (strictly-greater -> bit set; the
    median element itself clears, making ties deterministic)."""
    import numpy as np

    small = resize_nn(px, PHASH_RESIZE, PHASH_RESIZE).astype(np.float64)
    luma = (
        0.299 * small[:, :, 0]
        + 0.587 * small[:, :, 1]
        + 0.114 * small[:, :, 2]
    )
    d = _dct_matrix(PHASH_RESIZE)
    coef = d @ luma @ d.T
    block = coef[:PHASH_BLOCK, :PHASH_BLOCK].flatten()[1:]  # drop DC
    med = np.median(block)
    bits = block > med
    out = 0
    for i, b in enumerate(bits):
        if b:
            out |= 1 << i
    return out


#: Scale of the integer DCT basis (2^10): D8[k][x] =
#: round(cos(pi*(2x+1)k/64) * 1024). Bounds: luma <= 255,000 < 2^18,
#: |T| <= 32*2^10*2^18 = 2^33, |coef| <= 32*2^33*2^10 = 2^48 — exact
#: int64 everywhere, and integer addition is order-insensitive, so
#: numpy matmuls and DuckDB's sequential list_sum produce THE SAME
#: integers (no IEEE-fold pairing to match — the property that makes
#: this pHash oracle-checkable where the float DCT is not).
PHASH_INT_ONE = 1024


def _phash_d8():
    """The 8x32 integer DCT-II basis block (rows k=0..7). Rows k>=1
    sum to exactly 0 (cosine symmetry survives the rounding), so a
    constant luma offset (the planted twins' +20) perturbs no AC
    coefficient — the affine-invariance the float pHash has by
    construction carries over to the integer twin."""
    import numpy as np

    k = np.arange(8)[:, None]
    x = np.arange(32)[None, :]
    return np.round(
        np.cos(np.pi * (2 * x + 1) * k / 64) * PHASH_INT_ONE
    ).astype(np.int64)


def phash64_int(px) -> int:
    """63-bit INTEGER pHash of an (h, w, 3) uint8 raster — the
    oracle-checkable twin of :func:`phash64` (same pipeline: NN-resize
    to 32x32, integer Rec.601 luma 299r+587g+114b with no division —
    DCT is linear, so the median threshold is scale-invariant —
    scaled-integer DCT-II, median threshold with the median element
    cleared). Every step is exact int64 arithmetic reproducible
    verbatim in SQL; production/visual callers keep the float
    :func:`phash64` (true orthonormal basis)."""
    import numpy as np

    small = resize_nn(px, PHASH_RESIZE, PHASH_RESIZE).astype(np.int64)
    luma = 299 * small[:, :, 0] + 587 * small[:, :, 1] + 114 * small[:, :, 2]
    d = _phash_d8()
    coef = d @ luma @ d.T  # (8, 8) exact int64
    blk = coef.flatten()[1:]  # drop DC -> 63 ints
    med = int(np.sort(blk)[31])
    out = 0
    for i, v in enumerate(blk):
        if v > med:
            out |= 1 << i
    return out


PHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("fmt", T.StringType(), False),
        T.StructField("phash", T.LongType(), True),
    ]
)


def media_phash(
    media: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    hasher: str = "float",
) -> DataFrame:
    """mapInPandas pHash stage over binary raster payloads — map-only,
    zero shuffle; non-raster/compressed payloads carry a null hash
    (the module's honesty contract). ``hasher="int"`` computes the
    oracle-checkable integer-DCT twin (:func:`phash64_int`); the
    default float pHash stays the production/visual path."""
    if hasher not in ("float", "int"):
        # a typo'd hasher must fail loudly: a silent float fallback
        # would quietly decouple the registered entry from its
        # integer-DCT oracle (round-7 advisory)
        raise ValueError(f"hasher must be 'float' or 'int', got {hasher!r}")
    ph = phash64_int if hasher == "int" else phash64

    def _ph(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                b = bytes(payload)
                fmt = sniff_format(b)
                h = None
                try:
                    if fmt == "ppm":
                        h = ph(decode_ppm(b))
                    elif fmt == "bmp":
                        h = ph(decode_bmp(b))
                except ValueError:
                    fmt = "corrupt_" + fmt
                rows.append((int(doc_id), fmt, h))
            yield pd.DataFrame(rows, columns=[f.name for f in PHASH_SCHEMA])

    return media.select(id_col, payload_col).mapInPandas(
        _ph, schema=PHASH_SCHEMA
    )


def phash_neardup_pairs(hashes: DataFrame, max_hamming: int = 10) -> DataFrame:
    """Image near-dup pairs with hamming(phash) <= max_hamming via
    8x8-bit chunk banding: the pigeonhole makes recall EXACTLY 1 for
    hamming <= 7 (8 flips cannot touch all 8 chunks), and near-1 for
    the 8..10 band a practical pHash radius needs (affine-luma copies
    quantization-drift to ~4-10 bits; unrelated images sit near 32).
    The chunk self-join is keyed (no all-pairs) and candidates verify
    with one codegen bit_count. Scale note: 8-bit chunk keys mean
    buckets grow ~n/256 per chunk position — at billions of images,
    production multi-index pHash widens the keys (more chunks of more
    bits, tighter radius per probe) or cascades band levels; the
    banding-then-verify shape is unchanged."""
    # the hash frame feeds BOTH sides of the chunk self-join; without
    # truncation the whole upstream pipeline (payload decode + DCT —
    # an opaque Python stage Catalyst cannot dedup) runs twice, one
    # full pass per join side. The frame is (doc_id, phash) — 16
    # bytes/image — so the materialization is noise next to the
    # decode it saves (guide §2.4 / §4: never pay an opaque Python
    # boundary twice for one logical pass).
    hs = truncate_lineage(
        hashes.where(F.col("phash").isNotNull()).select("doc_id", "phash")
    )
    chunks = hs.select(
        "doc_id",
        "phash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("ci"),
                        F.expr(
                            f"shiftright(phash, {8 * i}) & 255"
                        ).alias("ck"),
                    )
                    for i in range(8)
                ]
            )
        ).alias("c"),
    ).select("doc_id", "phash", "c.ci", "c.ck")
    a = chunks.select(
        F.col("ci"), F.col("ck"),
        F.col("doc_id").alias("doc_a"), F.col("phash").alias("ha"),
    )
    b = chunks.select(
        F.col("ci"), F.col("ck"),
        F.col("doc_id").alias("doc_b"), F.col("phash").alias("hb"),
    )
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (
        a.join(b, ["ci", "ck"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", ham.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
        .dropDuplicates(["doc_a", "doc_b"])
        .orderBy("doc_a", "doc_b")
    )


RASTER_SIZE = 48  # synthetic stand-in raster edge
RASTER_GRID = 6  # md5-seeded coarse grid edge (bilinear upsampled)


def _raster_grid(seed: int):
    """The 6x6 md5-seeded coarse grid — each cell is the first 15 md5
    hex chars of "{seed}:{u}:{v}" mod 256 (the md5 bucket rule,
    :func:`~parquet_ingestor_spark.functions.seq_md5_int`),
    reproducible verbatim in SQL."""
    import numpy as np

    g = np.zeros((RASTER_GRID, RASTER_GRID), dtype=np.int64)
    for u in range(RASTER_GRID):
        for v in range(RASTER_GRID):
            g[u, v] = seq_md5_int(f"{seed}:{u}:{v}", 1, 15) % 256
    return g


def _bilinear_weights():
    """(48 x 6) exact integer bilinear weights W: pixel row y takes
    grid rows u0=(5y)//47 and u0+1 with weights (47-ry, ry), ry =
    (5y)%47 — upsampled raster = (W @ g @ W.T) // 47^2, all int64."""
    import numpy as np

    w = np.zeros((RASTER_SIZE, RASTER_GRID), dtype=np.int64)
    for y in range(RASTER_SIZE):
        t = (RASTER_GRID - 1) * y
        u0, ry = t // (RASTER_SIZE - 1), t % (RASTER_SIZE - 1)
        w[y, u0] += (RASTER_SIZE - 1) - ry
        w[y, min(u0 + 1, RASTER_GRID - 1)] += ry
    return w


def _synthetic_rasters(docs: DataFrame) -> DataFrame:
    """Deterministic stand-in rasters: a 6x6 md5-seeded grid per
    doc_id, exact-integer bilinear upsample to 48x48 grayscale PPM —
    band-limited by construction (bilinear of a 6x6 grid has no energy
    above the grid frequency), the regime pHash is built for. Every
    doc_id divisible by 10 carries an affine luma transform
    (px*4 // 5 + 20) of its PREDECESSOR's raster — a planted
    near-duplicate class (visually identical, byte-different). The
    operator itself consumes any binary raster column; this builder
    only exists because the container has no codec libs to decode the
    corpus's real media (module honesty contract). Unlike the earlier
    numpy-RNG generator, every pixel is md5+integer arithmetic — the
    same raster is recomputable in SQL, which is what makes the
    registered pHash entry oracle-checkable end to end."""

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        w = _bilinear_weights()
        den = (RASTER_SIZE - 1) * (RASTER_SIZE - 1)

        def raster(seed: int):
            return (w @ _raster_grid(seed) @ w.T) // den  # int64 0..255

        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                did = int(doc_id)
                if did % 10 == 0 and did > 0:
                    px = (raster(did - 1) * 4) // 5 + 20
                else:
                    px = raster(did)
                px8 = px.astype(np.uint8)
                rows.append(
                    (did, bytearray(encode_ppm(
                        np.repeat(px8[:, :, None], 3, axis=2)
                    )))
                )
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    return docs.select("doc_id").mapInPandas(
        _gen, schema="doc_id long, payload binary"
    )


def _phash_int_oracle(max_hamming: int = 10) -> str:
    """SQL mirror of the registered entry: md5 grid -> exact-integer
    bilinear pixels (only the 32 NN-sampled positions per axis are
    computed: src = (6i+3)//4, the same floor((i+0.5)*48/32) rule
    resize_nn applies) -> integer luma (r=g=b so 299r+587g+114b =
    1000*px) -> scaled-integer separable DCT against the same rounded
    basis (literal ints) -> median threshold -> 8x8-bit chunk-banded
    pairs. Integer arithmetic is order-insensitive, so DuckDB's
    sequential list_sum equals numpy's matmuls bit for bit."""
    import numpy as np

    d = _phash_d8()
    d8_lit = "[" + ", ".join(
        "[" + ", ".join(str(int(v)) for v in row) + "]" for row in d
    ) + "]"
    e = RASTER_SIZE - 1  # 47
    g = RASTER_GRID - 1  # 5
    return f"""
        WITH ids AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 10 = 0 AND doc_id > 0
                        THEN doc_id - 1 ELSE doc_id END AS seed,
                   (doc_id % 10 = 0 AND doc_id > 0) AS twin
            FROM documents
        ),
        grid AS (
            SELECT doc_id, twin,
                   list(('0x' || substring(md5(seed::VARCHAR || ':'
                            || u.u::VARCHAR || ':' || v.v::VARCHAR),
                            1, 15))::BIGINT % 256
                        ORDER BY u.u * {RASTER_GRID} + v.v) AS gr
            FROM ids
            CROSS JOIN (SELECT unnest(generate_series(0, {g})) AS u) u
            CROSS JOIN (SELECT unnest(generate_series(0, {g})) AS v) v
            GROUP BY doc_id, twin, seed
        ),
        pix AS (
            SELECT doc_id, p,
                   1000 * (CASE WHEN twin THEN (raw * 4) // 5 + 20
                                ELSE raw END) AS lum
            FROM (
                SELECT doc_id, twin, p,
                       (gr[u0 * {RASTER_GRID} + v0 + 1]
                            * ({e} - ry) * ({e} - rx)
                        + gr[least(u0 + 1, {g}) * {RASTER_GRID} + v0 + 1]
                            * ry * ({e} - rx)
                        + gr[u0 * {RASTER_GRID}
                             + least(v0 + 1, {g}) + 1]
                            * ({e} - ry) * rx
                        + gr[least(u0 + 1, {g}) * {RASTER_GRID}
                             + least(v0 + 1, {g}) + 1]
                            * ry * rx) // {e * e} AS raw
                FROM (
                    SELECT doc_id, twin, gr, p.p AS p,
                           ({g} * ((6 * (p.p // 32) + 3) // 4)) // {e}
                               AS u0,
                           ({g} * ((6 * (p.p // 32) + 3) // 4)) % {e}
                               AS ry,
                           ({g} * ((6 * (p.p % 32) + 3) // 4)) // {e}
                               AS v0,
                           ({g} * ((6 * (p.p % 32) + 3) // 4)) % {e}
                               AS rx
                    FROM grid
                    CROSS JOIN (SELECT unnest(generate_series(0, 1023))
                                AS p) p
                ) _b
            ) _r
        ),
        lum AS (
            SELECT doc_id, list(lum ORDER BY p) AS L
            FROM pix GROUP BY doc_id
        ),
        tk AS (
            SELECT doc_id, k.k AS k,
                   list_transform(generate_series(1, 32), y ->
                       CAST(list_sum(list_transform(
                           generate_series(1, 32), x ->
                           {d8_lit}[k.k + 1][x] * L[(x - 1) * 32 + y]))
                           AS BIGINT)) AS trow
            FROM lum
            CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS k) k
        ),
        coef AS (
            SELECT doc_id, k, l.l AS l,
                   CAST(list_sum(list_transform(
                       generate_series(1, 32), y ->
                       trow[y] * {d8_lit}[l.l + 1][y])) AS BIGINT) AS c
            FROM tk
            CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS l) l
            WHERE NOT (k = 0 AND l.l = 0)
        ),
        blk AS (
            SELECT doc_id, list(c ORDER BY k * 8 + l) AS b
            FROM coef GROUP BY doc_id
        ),
        hs AS (
            SELECT doc_id,
                   CAST(list_sum(list_transform(
                       generate_series(1, 63), i ->
                       CASE WHEN b[i] > list_sort(b)[32]
                            THEN CAST(1 AS BIGINT)
                                 << CAST(i - 1 AS INTEGER)
                            ELSE CAST(0 AS BIGINT) END)) AS BIGINT)
                       AS phash
            FROM blk
        ),
        ch AS (
            SELECT doc_id, phash, c.c AS ci,
                   (phash >> CAST(8 * c.c AS INTEGER)) & 255 AS ck
            FROM hs
            CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS c) c
        )
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(bit_count(xor(a.phash, b.phash)) AS INTEGER)
                   AS hamming
        FROM ch a
        JOIN ch b ON a.ci = b.ci AND a.ck = b.ck
                 AND a.doc_id < b.doc_id
        WHERE bit_count(xor(a.phash, b.phash)) <= {max_hamming}
        ORDER BY doc_a, doc_b
    """


@register(
    "media_phash_neardup",
    oracle=_phash_int_oracle(),
    doc="Image near-duplicate pairs via pHash (resize → luma → DCT-II "
    "→ median threshold) and 8×8-bit chunk banding (pigeonhole recall "
    "1 for hamming ≤ 7, near-1 out to the hamming-10 radius) over "
    "deterministic stand-in rasters — the visual-dedup shape of a "
    "multimodal training pipeline. The registered entry runs the "
    "INTEGER-DCT twin over md5-seeded bilinear rasters (promoted from "
    "rows-only, r6 verdict #6): integer arithmetic is order-"
    "insensitive, so the whole pipeline — raster, luma, DCT, median "
    "threshold, banded pairs — is hash-checked against SQL. The "
    "float pHash (phash64) stays the production/visual path, pinned "
    "by its own loop-reference and affine-invariance tests.",
    tags=("multimodal", "dedup", "approx"),
)
def media_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Spread docs across all cores before the raster/DCT stages: the
    # documents table is a handful of parquet splits, and without this
    # the whole Arrow pipeline runs on as many cores as there are
    # files. At 100 TB the scan has thousands of splits and AQE folds
    # this away; on small inputs it is 1 core vs all of them (the same
    # move _doc_shingles makes for the sketch-dedup family).
    par = spark.sparkContext.defaultParallelism
    docs = table(spark, sf_dir, "documents").repartition(par, "doc_id")
    media = _synthetic_rasters(docs)
    return phash_neardup_pairs(media_phash(media, hasher="int"))
