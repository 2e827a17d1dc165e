"""Multimodal (image/audio/video) column plumbing.

Media are opaque ``binary`` columns with a typed metadata struct alongside
(modality, byte_size, format sniffed from magic bytes). Heavy per-item work
(decode, resize, frame-sample, hash) runs through one row runner,
``_map_rows``: an Arrow-batched mapInPandas that scales out by partition —
the pattern a 100 TB media pipeline needs (reshuffle by size class first
if items are skewed).

The codec step is REAL for the formats pure stdlib can express — PNG and
BMP pixel decode + PNG re-encode, WAV PCM decode, JPEG/GIF header dims,
and AVI video: RIFF chunk walk + uncompressed-DIB frame decode
(operators/codecs.py) — so ``decode_features`` / ``resize_media`` /
``sample_frames`` / ``video_phash`` do genuine pixel/sample math with no
external libs. Formats needing entropy decoders we don't have (JPEG
pixels inside MJPEG) fall back to raw frame bytes + header dims.

Each media type's stages — synthesize, perturb edit, hash — are written
once on numpy values, and every kernel composes them. The fused
``synth_*`` kernels hash synthesized pixels directly, which equals the
synthesize → [perturb →] hash chain because the PNG and AVI/DIB
roundtrips are lossless for uint8.

Null and undecodable media: a null blob reads as empty bytes, so it takes
the undecodable path of each kernel — hash and perturb kernels drop the
row, ``decode_features`` emits its byte-statistics vector, ``resize_media``
returns empty media, and ``sample_frames`` raises ValueError naming the id.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterable, Iterator
from wave import Error as wave_error

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType

from lakeside_spark.operators import codecs
from lakeside_spark.operators.similarity import _parallelize

_MAGIC = {
    b"\x89PNG": "png",
    b"\xff\xd8\xff": "jpeg",
    b"RIFF": "wav",
    b"OggS": "ogg",
    b"BM": "bmp",
    b"GIF8": "gif",
}
#: the perturb kernels (near-duplicate generators) shift the id by this
PERTURB_ID_OFFSET = 1_000_000
#: the image edit brightens the top IMAGE_EDIT_ROWS_FRAC of the rows
IMAGE_EDIT_BRIGHTNESS = 60
IMAGE_EDIT_ROWS_FRAC = 0.25
#: the video edit brightens every frame
VIDEO_EDIT_BRIGHTNESS = 40
#: synthesized video frames are VIDEO_FRAME_SIZE² RGB
VIDEO_FRAME_SIZE = 16
#: a video's pHash votes over every VIDEO_HASH_EVERY_N-th frame, at most
#: VIDEO_HASH_MAX_FRAMES of them
VIDEO_HASH_EVERY_N = 2
VIDEO_HASH_MAX_FRAMES = 4
#: what a WAV decode raises on bytes that are not a readable WAV
_WAV_ERRORS = (ValueError, EOFError, wave_error)
#: pandas dtype of an output column by its SQL type; the rest are objects
_DTYPES = {"bigint": "int64", "int": "int32"}


def _map_rows(
    df: DataFrame,
    cols: list[str],
    schema: dict[str, str],
    fn: Callable[..., Iterable[tuple]],
) -> DataFrame:
    """The one mapInPandas of the media kernels: select ``cols``, spread
    them with ``_parallelize`` and call ``fn(*row)`` per input row. ``fn``
    yields zero or more output tuples in the order of ``schema``
    ({column: SQL type}): none drops the row, several fan it out. Binary
    input columns arrive as ``bytes``, a null one as ``b""``. The output
    frame is typed from ``schema``, so an empty batch keeps its dtypes."""
    src = df.select(*cols)
    blobs = {f.name for f in src.schema if isinstance(f.dataType, BinaryType)}
    dtypes = [_DTYPES.get(t, object) for t in schema.values()]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            args = [
                [b"" if v is None else bytes(v) for v in pdf[c]]
                if c in blobs
                else pdf[c]
                for c in cols
            ]
            rows = [out for row in zip(*args) for out in fn(*row)]
            values = list(zip(*rows)) if rows else [()] * len(schema)
            yield pd.DataFrame(
                {
                    name: pd.Series(list(v), dtype=dt)
                    for name, v, dt in zip(schema, values, dtypes)
                }
            )

    ddl = ", ".join(f"{name} {t}" for name, t in schema.items())
    return _parallelize(src).mapInPandas(batches, ddl)


def with_media_metadata(df: DataFrame, binary_col: str = "media") -> DataFrame:
    """Attach a typed metadata struct sniffed from the binary column."""
    fmt = F.lit("unknown")
    for magic, name in _MAGIC.items():
        fmt = F.when(
            F.expr(f"substring({binary_col}, 1, {len(magic)})") == F.lit(magic), name
        ).otherwise(fmt)
    return df.withColumn(
        "media_meta",
        F.struct(
            F.octet_length(F.col(binary_col)).cast("long").alias("byte_size"),
            fmt.alias("format"),
            F.sha1(F.col(binary_col)).alias("content_sha1"),
        ),
    )


def synthesize_media(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic fake media bytes from a text column (test fixture for
    the binary plumbing; real pipelines read binary files/blob columns)."""
    return df.withColumn("media", F.encode(F.col(text_col), "UTF-8"))


# ---------------------------------------------------------------------------
# image stages


def _synth_gray(text: str | None, width: int, height: int) -> np.ndarray:
    """(height, width, 1) uint8 gray pixels seeded by the md5 stream of
    the text."""
    n = width * height
    seed = (text or "").encode()
    stream = bytearray()
    counter = 0
    while len(stream) < n:
        stream += hashlib.md5(seed + counter.to_bytes(4, "big")).digest()
        counter += 1
    return np.frombuffer(bytes(stream[:n]), dtype=np.uint8).reshape(height, width, 1)


def _decode_image(buf: bytes) -> np.ndarray | None:
    """(h, w, channels) uint8 pixels of a PNG/BMP blob, else None."""
    try:
        return codecs.decode_pixels(buf)
    except ValueError:
        return None


def _brighten_rows(px: np.ndarray) -> np.ndarray:
    """The image perturb edit: brighten the top rows, clipped."""
    n = max(1, int(px.shape[0] * IMAGE_EDIT_ROWS_FRAC))
    edited = px.astype(np.int16)
    edited[:n] = np.clip(edited[:n] + IMAGE_EDIT_BRIGHTNESS, 0, 255)
    return edited.astype(np.uint8)


def _nearest(px: np.ndarray, height: int, width: int) -> np.ndarray:
    """Nearest-neighbor resample of the first two axes."""
    h, w = px.shape[:2]
    ys = (np.arange(height) * h // height).clip(0, h - 1)
    xs = (np.arange(width) * w // width).clip(0, w - 1)
    return px[ys][:, xs]


def _dct_matrix(n: int) -> np.ndarray:
    """Orthonormal DCT-II basis: D @ X @ D.T is the 2-D transform."""
    k = np.arange(n)[:, None]
    x = np.arange(n)[None, :]
    d = np.sqrt(2.0 / n) * np.cos(np.pi * (2 * x + 1) * k / (2 * n))
    d[0] /= np.sqrt(2.0)
    return d


_D = _dct_matrix(32)


def _phash_bits(px: np.ndarray) -> np.ndarray:
    """63 pHash bits of (h, w, channels) pixels: channel-mean gray →
    32×32 nearest-resize → 2-D DCT → 8×8 low-frequency block minus DC,
    thresholded at its median."""
    small = _nearest(px.astype(np.float64).mean(axis=2), 32, 32)
    coef = (_D @ small @ _D.T)[:8, :8].flatten()[1:]  # drop DC
    return coef > np.median(coef)


def _pack_bits(bits: np.ndarray) -> int:
    val = 0
    for i, b in enumerate(bits):
        if b:
            val |= 1 << i
    return val


def _phash_val(px: np.ndarray) -> int:
    return _pack_bits(_phash_bits(px))


def synthesize_images(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    width: int = 16,
    height: int = 16,
) -> DataFrame:
    """Deterministic REAL PNG bytes derived from a text column: the md5
    stream of the text seeds a gray image, encoded with the stdlib PNG
    encoder. Gives the decode/resize kernels genuine compressed images to
    chew on without any external media files."""

    def row(did, text):
        yield did, text, codecs.png_encode(_synth_gray(text, width, height))

    schema = {id_col: "bigint", text_col: "string", "media": "binary"}
    return _map_rows(df, [id_col, text_col], schema, row)


def decode_features(
    df: DataFrame,
    binary_col: str = "media",
    id_col: str = "doc_id",
    dim: int = 8,
) -> DataFrame:
    """binary → feature vector.

    Real path: PNG/BMP are pixel-decoded and WAV sample-decoded with the
    stdlib codecs; the feature vector is [width, height, channels,
    mean, std, p25, p50, p75] (images) or [rate-scaled, channels, duration,
    rms, zero-cross, p25, p50, p75] (audio), padded/trimmed to ``dim``.
    Formats without a stdlib decoder (jpeg pixels, ogg, unknown) get
    header dims where parseable plus byte-level statistics — decode never
    throws mid-batch.
    """

    def _fit(vals: list[float]) -> list[float]:
        return (vals + [0.0] * dim)[:dim]

    def features(buf: bytes) -> list[float]:
        px = _decode_image(buf)
        if px is not None:
            h, w, c = px.shape
            flat = px.astype(np.float64) / 255.0
            q = np.quantile(flat, [0.25, 0.5, 0.75])
            return _fit(
                [float(w), float(h), float(c), float(flat.mean()),
                 float(flat.std()), *map(float, q)]
            )
        if buf[:4] == b"RIFF" and buf[8:12] == b"WAVE":
            try:
                rate, nch, samples = codecs.wav_decode(buf)
                mono = samples.mean(axis=1)
                zc = float(np.mean(np.abs(np.diff(np.signbit(mono))))) if len(mono) > 1 else 0.0
                q = np.quantile(mono, [0.25, 0.5, 0.75]) if len(mono) else [0, 0, 0]
                return _fit(
                    [rate / 1e3, float(nch), len(mono) / max(rate, 1),
                     float(np.sqrt((mono ** 2).mean())) if len(mono) else 0.0,
                     zc, *map(float, q)]
                )
            except _WAV_ERRORS:
                pass
        # no stdlib pixel/sample decoder: header dims + byte statistics
        dims = codecs.image_dims(buf)
        arr = np.frombuffer(buf, dtype=np.uint8).astype(np.float64) / 255.0
        q = np.quantile(arr, [0.25, 0.5, 0.75]) if len(arr) else [0.0, 0.0, 0.0]
        return _fit(
            [float(dims[0]) if dims else 0.0, float(dims[1]) if dims else 0.0,
             0.0, float(arr.mean()) if len(arr) else 0.0,
             float(arr.std()) if len(arr) else 0.0, *map(float, q)]
        )

    def row(did, buf):
        yield did, features(buf)

    schema = {id_col: "bigint", "features": "array<double>"}
    return _map_rows(df, [id_col, binary_col], schema, row)


def resize_media(
    df: DataFrame,
    width: int,
    height: int,
    binary_col: str = "media",
    id_col: str = "doc_id",
) -> DataFrame:
    """binary → resized binary + output dims.

    PNG/BMP pixels are decoded with the stdlib codecs, resampled with
    nearest-neighbor index math in numpy, and re-encoded as PNG; items in
    formats without a stdlib pixel decoder come back with empty media
    (callers filter on octet_length).
    """

    def row(did, buf):
        px = _decode_image(buf)
        out = b"" if px is None else codecs.png_encode(_nearest(px, height, width))
        yield did, out, width, height

    schema = {id_col: "bigint", "media": "binary", "width": "int", "height": "int"}
    return _map_rows(df, [id_col, binary_col], schema, row)


def phash64(
    df: DataFrame, binary_col: str = "media", id_col: str = "doc_id"
) -> DataFrame:
    """Perceptual image hash (classic pHash): stdlib pixel decode →
    32×32 gray nearest-resize → 2-D DCT → 63 low-frequency coefficients
    (8×8 block minus DC) thresholded at their median → 63-bit signature.
    Visually similar images land within a small hamming distance, so the
    banded dedup machinery (dedup.hamming_pairs) applies unchanged."""

    def row(did, buf):
        px = _decode_image(buf)
        if px is not None:
            yield did, _phash_val(px)

    schema = {id_col: "bigint", "phash": "bigint"}
    return _map_rows(df, [id_col, binary_col], schema, row)


def synth_phash64(
    df: DataFrame,
    width: int,
    height: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    perturb: bool = False,
) -> DataFrame:
    """text → 63-bit pHash in ONE Arrow kernel: the fused form of
    synthesize_images → [perturb_images →] phash64 for synthetic corpora
    (guide §4 — eliminate the Python↔JVM boundary). The chained shape
    ships ~1KB of PNG per doc to the JVM, checkpoints it, then ships it
    back to a second Python kernel that immediately decodes it; the
    fused kernel runs the same stages without the lossless PNG roundtrip
    between them, so the blobs never exist."""

    def row(did, text):
        px = _synth_gray(text, width, height)
        if perturb:
            px = _brighten_rows(px)
            did += PERTURB_ID_OFFSET
        yield did, _phash_val(px)

    return _map_rows(df, [id_col, text_col], {id_col: "bigint", "phash": "bigint"}, row)


def perturb_images(
    df: DataFrame, binary_col: str = "media", id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic visible edit per image (brighten the top rows) with a
    shifted id — a near-duplicate generator for exercising perceptual-hash
    dedup on corpora that have no natural image dups."""

    def row(did, buf):
        px = _decode_image(buf)
        if px is not None:
            yield did + PERTURB_ID_OFFSET, codecs.png_encode(_brighten_rows(px))

    schema = {id_col: "bigint", "media": "binary"}
    return _map_rows(df, [id_col, binary_col], schema, row)


# ---------------------------------------------------------------------------
# video stages


def _frame_indices(n_frames: int, every_n: int, max_frames: int) -> range:
    """Every ``every_n``-th frame index, at most ``max_frames`` of them."""
    return range(0, min(n_frames, every_n * max_frames), every_n)


def _synth_video_frame(did: int, fi: int, text: str | None) -> np.ndarray:
    """Frame ``fi`` of a synthesized video: RGB noise seeded by
    (doc_id, frame_idx, text length)."""
    rng = np.random.default_rng(
        (int(did) * 1_000_003 + fi) % (2**63) + len(text or "") % 97
    )
    return rng.integers(
        0, 256, (VIDEO_FRAME_SIZE, VIDEO_FRAME_SIZE, 3), dtype=np.uint8
    )


def _brighten_frame(px: np.ndarray) -> np.ndarray:
    """The video perturb edit: brighten the whole frame, clipped."""
    return np.clip(px.astype(np.int16) + VIDEO_EDIT_BRIGHTNESS, 0, 255).astype(
        np.uint8
    )


def _video_phash_val(
    n_frames: int, frame: Callable[[int], np.ndarray]
) -> int | None:
    """Temporally pooled pHash: the per-bit strict MAJORITY of the pHash
    bits of the sampled frames (``frame(fi)`` gives frame ``fi`` of
    ``n_frames``); None when no frame is sampled."""
    votes = np.zeros(63, dtype=np.int64)
    n_sampled = 0
    for fi in _frame_indices(n_frames, VIDEO_HASH_EVERY_N, VIDEO_HASH_MAX_FRAMES):
        votes += _phash_bits(frame(fi))
        n_sampled += 1
    return _pack_bits(votes * 2 > n_sampled) if n_sampled else None


def sample_frames(
    df: DataFrame,
    every_n: int = 10,
    max_frames: int = 4,
    binary_col: str = "media",
    id_col: str = "doc_id",
) -> DataFrame:
    """video binary → exploded (id, frame_idx, width, height, frame) rows.
    REAL frame extraction: a pure-stdlib RIFF chunk walk
    (codecs.avi_frames) pulls the '00db'/'00dc' frame payloads out of
    uncompressed-DIB or MJPEG AVI containers, keeping every
    ``every_n``-th frame up to ``max_frames`` per video. frame_idx is the
    frame's index in the source stream (0, every_n, 2·every_n, ...), so
    downstream joins can reason about source timing. Non-AVI bytes raise
    ValueError with the offending id.

    The fan-out (one input row → up to max_frames output rows) is the
    part that matters at scale: the kernel emits a different row count
    than it received, so frame sampling never needs a driver-side
    explode, and the RIFF walk is one linear pass per video regardless of
    how many frames are kept.
    """

    def row(did, buf):
        try:
            w, h, _bpp, chunks = codecs.avi_frames(buf)
        except ValueError as exc:
            raise ValueError(f"{id_col}={did}: {exc}") from None
        for fi in _frame_indices(len(chunks), every_n, max_frames):
            yield did, fi, w, h, chunks[fi][1]

    schema = {
        id_col: "bigint", "frame_idx": "int", "width": "int", "height": "int",
        "frame": "binary",
    }
    return _map_rows(df, [id_col, binary_col], schema, row)


def synthesize_videos(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_frames: int = 8,
) -> DataFrame:
    """Deterministic real AVI bytes per row (test/bench fixture for the
    video path, same role synthesize_images plays for PNG): each doc
    gets an uncompressed-DIB AVI whose frames are seeded by
    (doc_id, frame_idx, text length), so frame extraction is
    replayable across engines and runs."""

    def row(did, text):
        frames = [_synth_video_frame(did, fi, text) for fi in range(n_frames)]
        yield did, codecs.avi_encode(frames)

    return _map_rows(df, [id_col, text_col], {id_col: "bigint", "media": "binary"}, row)


def video_phash(
    df: DataFrame, binary_col: str = "media", id_col: str = "doc_id"
) -> DataFrame:
    """Perceptual VIDEO hash: RIFF-walk each AVI (codecs.avi_frames),
    sample every VIDEO_HASH_EVERY_N-th frame up to VIDEO_HASH_MAX_FRAMES,
    pHash each sampled frame (the same 32×32-DCT 63-bit math as the image
    path), then pool to ONE 63-bit video signature by per-bit MAJORITY
    vote across the sampled frames — the temporal pooling that makes the
    signature robust to per-frame noise while two videos sharing most of
    their visual content land within a small hamming distance. One linear
    RIFF pass + VIDEO_HASH_MAX_FRAMES DCTs per video; non-DIB frames are
    undecodable."""

    def row(did, buf):
        try:
            w, h, bpp, chunks = codecs.avi_frames(buf)
            val = _video_phash_val(
                len(chunks), lambda fi: codecs.dib_decode(chunks[fi][1], w, h, bpp)
            )
        except ValueError:
            return
        if val is not None:
            yield did, val

    schema = {id_col: "bigint", "phash": "bigint"}
    return _map_rows(df, [id_col, binary_col], schema, row)


def synth_video_phash(
    df: DataFrame,
    n_frames: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    perturb: bool = False,
) -> DataFrame:
    """text → temporally-pooled 63-bit video pHash in ONE Arrow kernel:
    the fused form of synthesize_videos → [perturb_videos →] video_phash
    for synthetic corpora (guide §4). The chained shape ships an
    uncompressed AVI per doc (n_frames · VIDEO_FRAME_SIZE² · 3 bytes) to the JVM,
    checkpoints it, then ships it back to a second kernel that RIFF-walks
    and DIB-decodes it; the fused kernel runs the same stages without the
    lossless AVI/DIB roundtrip, and synthesizes only the SAMPLED frames."""

    def row(did, text):
        def frame(fi):
            px = _synth_video_frame(did, fi, text)
            return _brighten_frame(px) if perturb else px

        val = _video_phash_val(n_frames, frame)
        if val is not None:
            yield did + (PERTURB_ID_OFFSET if perturb else 0), val

    return _map_rows(df, [id_col, text_col], {id_col: "bigint", "phash": "bigint"}, row)


def perturb_videos(
    df: DataFrame, binary_col: str = "media", id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic visible edit per video (brighten every frame,
    clipped) with a shifted id — the video twin of perturb_images, a
    near-duplicate generator for corpora with no natural video dups."""

    def row(did, buf):
        try:
            w, h, bpp, chunks = codecs.avi_frames(buf)
            frames = [
                _brighten_frame(codecs.dib_decode(c, w, h, bpp)) for _, c in chunks
            ]
        except ValueError:
            return
        if frames:
            yield did + PERTURB_ID_OFFSET, codecs.avi_encode(frames)

    schema = {id_col: "bigint", "media": "binary"}
    return _map_rows(df, [id_col, binary_col], schema, row)
