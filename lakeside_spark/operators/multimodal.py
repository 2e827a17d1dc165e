"""Multimodal (image/audio/video) column plumbing.

Media are opaque ``binary`` columns with a typed metadata struct alongside
(modality, byte_size, format sniffed from magic bytes). Heavy per-item work
(decode, resize, frame-sample, feature-extract) runs through mapInPandas:
Arrow-batched, columnar, and scale-out by partition — the pattern a 100 TB
media pipeline needs (reshuffle by size class first if items are skewed).

The codec step is REAL for the formats pure stdlib can express — PNG and
BMP pixel decode + PNG re-encode, WAV PCM decode, JPEG/GIF header dims,
and (r12) AVI video: RIFF chunk walk + uncompressed-DIB frame decode
(operators/codecs.py) — so ``decode_features`` / ``resize_media`` /
``sample_frames`` / ``video_phash`` do genuine pixel/sample math with no
external libs. Formats needing entropy decoders we don't have (JPEG
pixels inside MJPEG) fall back to raw frame bytes + header dims.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator
from wave import Error as wave_error

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

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


def _synth_gray(text: str | None, width: int, height: int) -> np.ndarray:
    """The pixel stage of synthesize_images: md5 stream of the text seeds
    a (height, width) uint8 gray image. Split out so the fused text→hash
    kernel (synth_phash64) and the PNG-emitting synthesize_images share
    one definition — the two must stay byte-identical for the fusion's
    parity contract."""
    n = width * height
    seed = (text or "").encode()
    stream = bytearray()
    counter = 0
    while len(stream) < n:
        stream += hashlib.md5(seed + counter.to_bytes(4, "big")).digest()
        counter += 1
    return np.frombuffer(bytes(stream[:n]), dtype=np.uint8).reshape(height, width)


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
    schema = f"{id_col} bigint, {text_col} string, media binary"

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            blobs = [
                codecs.png_encode(_synth_gray(text, width, height))
                for text in pdf[text_col]
            ]
            yield pd.DataFrame(
                {id_col: pdf[id_col], text_col: pdf[text_col], "media": blobs}
            )

    return _parallelize(df.select(id_col, text_col)).mapInPandas(
        batches, schema=schema
    )


def decode_features(
    df: DataFrame,
    binary_col: str = "media",
    id_col: str = "doc_id",
    dim: int = 8,
) -> DataFrame:
    """binary → feature vector via Arrow-batched mapInPandas.

    Real path: PNG/BMP are pixel-decoded and WAV sample-decoded with the
    stdlib codecs; the feature vector is [width, height, channels,
    mean, std, p25, p50, p75] (images) or [rate-scaled, channels, duration,
    rms, zero-cross, p25, p50, p75] (audio), padded/trimmed to ``dim``.
    Formats without a stdlib decoder (jpeg pixels, ogg, unknown) get
    header dims where parseable plus byte-level statistics — decode never
    throws mid-batch.
    """
    schema = f"{id_col} bigint, features array<double>"

    def _fit(vals: list[float]) -> list[float]:
        return (vals + [0.0] * dim)[:dim]

    def real_features(buf: bytes) -> list[float]:
        buf = bytes(buf)
        px = None
        try:
            px = codecs.decode_pixels(buf)
        except ValueError:
            px = None
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
            except (ValueError, EOFError, wave_error):
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

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats = [real_features(buf) for buf in pdf[binary_col]]
            yield pd.DataFrame({id_col: pdf[id_col], "features": feats})

    return _parallelize(df.select(id_col, binary_col)).mapInPandas(
        batches, schema=schema
    )


def resize_media(
    df: DataFrame,
    width: int,
    height: int,
    binary_col: str = "media",
    id_col: str = "doc_id",
) -> DataFrame:
    """binary → resized binary + output dims, Arrow-batched.

    PNG/BMP pixels are decoded with the stdlib codecs, resampled with
    nearest-neighbor index math in numpy, and re-encoded as PNG; items in
    formats without a stdlib pixel decoder come back with empty media
    (callers filter on octet_length).
    """
    schema = f"{id_col} bigint, media binary, width int, height int"

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for buf in pdf[binary_col]:
                try:
                    px = codecs.decode_pixels(bytes(buf))
                except ValueError:
                    px = None
                if px is None:
                    out.append(b"")
                    continue
                h, w, _c = px.shape
                ys = (np.arange(height) * h // height).clip(0, h - 1)
                xs = (np.arange(width) * w // width).clip(0, w - 1)
                out.append(codecs.png_encode(px[ys][:, xs]))
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "media": out,
                    "width": [width] * len(pdf),
                    "height": [height] * len(pdf),
                }
            )

    return _parallelize(df.select(id_col, binary_col)).mapInPandas(
        batches, schema=schema
    )


def _dct_matrix(n: int) -> np.ndarray:
    """Orthonormal DCT-II basis: D @ X @ D.T is the 2-D transform."""
    k = np.arange(n)[:, None]
    x = np.arange(n)[None, :]
    d = np.sqrt(2.0 / n) * np.cos(np.pi * (2 * x + 1) * k / (2 * n))
    d[0] /= np.sqrt(2.0)
    return d


def _phash_bits(gray: np.ndarray, D: np.ndarray) -> np.ndarray:
    """63 pHash bits of a 2-D float gray image: 32×32 nearest-resize →
    2-D DCT → 8×8 low-frequency block minus DC, thresholded at its
    median. One definition shared by phash64/video_phash (decoded media)
    and the fused synth_* kernels (synthesized pixels) so their bits can
    never drift apart."""
    h, w = gray.shape
    ys = (np.arange(32) * h // 32).clip(0, h - 1)
    xs = (np.arange(32) * w // 32).clip(0, w - 1)
    small = gray[ys][:, xs]
    coef = (D @ small @ D.T)[:8, :8].flatten()[1:]  # drop DC
    return coef > np.median(coef)


def _pack_bits(bits: np.ndarray) -> int:
    val = 0
    for i, b in enumerate(bits):
        if b:
            val |= 1 << i
    return val


def _phash_val(gray: np.ndarray, D: np.ndarray) -> int:
    return _pack_bits(_phash_bits(gray, D))


def phash64(
    df: DataFrame, binary_col: str = "media", id_col: str = "doc_id"
) -> DataFrame:
    """Perceptual image hash (classic pHash): stdlib pixel decode →
    32×32 gray nearest-resize → 2-D DCT → 63 low-frequency coefficients
    (8×8 block minus DC) thresholded at their median → 63-bit signature.
    Visually similar images land within a small hamming distance, so the
    banded dedup machinery (dedup.hamming_pairs) applies unchanged.

    Map-only Arrow kernel; undecodable items hash to null and drop."""
    D = _dct_matrix(32)
    schema = f"{id_col} bigint, phash bigint"

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, hashes = [], []
            for did, buf in zip(pdf[id_col], pdf[binary_col]):
                try:
                    px = codecs.decode_pixels(bytes(buf))
                except ValueError:
                    px = None
                if px is None:
                    continue
                gray = px.astype(np.float64).mean(axis=2)
                ids.append(int(did))
                hashes.append(_phash_val(gray, D))
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype="int64"),
                    "phash": pd.Series(hashes, dtype="int64"),
                }
            )

    return _parallelize(df.select(id_col, binary_col)).mapInPandas(batches, schema)


def synth_phash64(
    df: DataFrame,
    width: int,
    height: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    perturb: bool = False,
    brightness: int = 60,
    rows_frac: float = 0.25,
    id_offset: int = 1_000_000,
) -> DataFrame:
    """text → 63-bit pHash in ONE Arrow kernel: the fused form of
    synthesize_images → [perturb_images →] phash64 for synthetic corpora
    (guide §4 — eliminate the Python↔JVM boundary). The chained shape
    ships ~1KB of PNG per doc to the JVM, checkpoints it, then ships it
    back to a second Python kernel that immediately decodes it; PNG
    encode/decode is LOSSLESS for uint8 gray, so hashing the synthesized
    pixels directly yields bit-identical signatures while the blobs never
    exist (pinned by the fused-vs-chained parity pytest). ``perturb=True``
    applies perturb_images' exact edit (top-rows brighten on the int16
    widening, clipped) and id shift before hashing."""
    D = _dct_matrix(32)
    schema = f"{id_col} bigint, phash bigint"

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, hashes = [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                px = _synth_gray(text, width, height)
                if perturb:
                    n = max(1, int(px.shape[0] * rows_frac))
                    edited = px.astype(np.int16)
                    edited[:n] = np.clip(edited[:n] + brightness, 0, 255)
                    px = edited.astype(np.uint8)
                ids.append(int(did) + (id_offset if perturb else 0))
                hashes.append(_phash_val(px.astype(np.float64), D))
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype="int64"),
                    "phash": pd.Series(hashes, dtype="int64"),
                }
            )

    return _parallelize(df.select(id_col, text_col)).mapInPandas(batches, schema)


def perturb_images(
    df: DataFrame,
    brightness: int = 60,
    rows_frac: float = 0.25,
    id_offset: int = 1_000_000,
    binary_col: str = "media",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic visible edit per image (brighten the top rows) with a
    shifted id — a near-duplicate generator for exercising perceptual-hash
    dedup on corpora that have no natural image dups."""
    schema = f"{id_col} bigint, media binary"

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, blobs = [], []
            for did, buf in zip(pdf[id_col], pdf[binary_col]):
                try:
                    px = codecs.decode_pixels(bytes(buf))
                except ValueError:
                    continue
                n = max(1, int(px.shape[0] * rows_frac))
                edited = px.astype(np.int16)
                edited[:n] = np.clip(edited[:n] + brightness, 0, 255)
                ids.append(int(did) + id_offset)
                blobs.append(codecs.png_encode(edited.astype(np.uint8)))
            yield pd.DataFrame(
                {id_col: pd.Series(ids, dtype="int64"), "media": blobs}
            )

    return _parallelize(df.select(id_col, binary_col)).mapInPandas(batches, schema)


def sample_frames(
    df: DataFrame,
    every_n: int = 10,
    max_frames: int = 4,
    binary_col: str = "media",
    id_col: str = "doc_id",
) -> DataFrame:
    """video binary → exploded (id, frame_idx, width, height, frame) rows,
    Arrow-batched. REAL frame extraction (r12 — previously the one stub
    in the repo): a pure-stdlib RIFF chunk walk (codecs.avi_frames) pulls
    the '00db'/'00dc' frame payloads out of uncompressed-DIB or MJPEG
    AVI containers, keeping every ``every_n``-th frame up to
    ``max_frames`` per video. frame_idx is the frame's index in the
    source stream (0, every_n, 2·every_n, ...), so downstream joins can
    reason about source timing. Non-AVI bytes raise ValueError with the
    offending id — same strict contract as decode_features' real path.

    The fan-out (one input row → up to max_frames output rows) is the
    part that matters at scale: mapInPandas lets the batch emit a
    different row count than it received, so frame sampling never needs
    a driver-side explode, and the RIFF walk is one linear pass per
    video regardless of how many frames are kept.
    """
    from lakeside_spark.operators.codecs import avi_frames

    schema = (
        f"{id_col} bigint, frame_idx int, width int, height int, frame binary"
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, idxs, ws, hs, frames = [], [], [], [], []
            for did, buf in zip(pdf[id_col], pdf[binary_col]):
                try:
                    w, h, _bpp, chunks = avi_frames(bytes(buf))
                except ValueError as exc:
                    raise ValueError(f"{id_col}={did}: {exc}") from None
                for fi in range(
                    0, min(len(chunks), every_n * max_frames), every_n
                ):
                    ids.append(did)
                    idxs.append(fi)
                    ws.append(w)
                    hs.append(h)
                    frames.append(chunks[fi][1])
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "width": pd.Series(ws, dtype="int32"),
                    "height": pd.Series(hs, dtype="int32"),
                    "frame": frames,
                }
            )

    return _parallelize(df.select(id_col, binary_col)).mapInPandas(
        batches, schema=schema
    )


def synthesize_videos(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_frames: int = 8,
    size: int = 16,
) -> DataFrame:
    """Deterministic real AVI bytes per row (test/bench fixture for the
    video path, same role synthesize_images plays for PNG): each doc
    gets an uncompressed-DIB AVI whose frames are seeded by
    (doc_id, frame_idx, text length), so frame extraction is
    replayable across engines and runs."""
    from lakeside_spark.operators.codecs import avi_encode

    schema = f"{id_col} bigint, media binary"

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, blobs = [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                frames = [
                    _synth_video_frame(did, fi, text, size)
                    for fi in range(n_frames)
                ]
                ids.append(did)
                blobs.append(avi_encode(frames))
            yield pd.DataFrame(
                {id_col: pd.Series(ids, dtype="int64"), "media": blobs}
            )

    return _parallelize(df.select(id_col, text_col)).mapInPandas(
        batches, schema=schema
    )


def video_phash(
    df: DataFrame,
    every_n: int = 2,
    max_frames: int = 4,
    binary_col: str = "media",
    id_col: str = "doc_id",
) -> DataFrame:
    """Perceptual VIDEO hash: RIFF-walk each AVI (codecs.avi_frames),
    sample every ``every_n``-th frame up to ``max_frames``, pHash each
    sampled frame (the same 32×32-DCT 63-bit math as the image path),
    then pool to ONE 63-bit video signature by per-bit MAJORITY vote
    across the sampled frames — the temporal pooling that makes the
    signature robust to per-frame noise while two videos sharing most
    of their visual content land within a small hamming distance.

    Map-only Arrow kernel, one linear RIFF pass + max_frames DCTs per
    video; non-AVI or non-DIB items hash to null and drop (same
    contract as phash64 on undecodable images)."""
    from lakeside_spark.operators.codecs import avi_frames, dib_decode

    D = _dct_matrix(32)
    schema = f"{id_col} bigint, phash bigint"

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, hashes = [], []
            for did, buf in zip(pdf[id_col], pdf[binary_col]):
                try:
                    w, h, bpp, chunks = avi_frames(bytes(buf))
                    votes = np.zeros(63, dtype=np.int64)
                    n_sampled = 0
                    for fi in range(
                        0, min(len(chunks), every_n * max_frames), every_n
                    ):
                        px = dib_decode(chunks[fi][1], w, h, bpp)
                        votes += _phash_bits(
                            px.astype(np.float64).mean(axis=2), D
                        )
                        n_sampled += 1
                except ValueError:
                    continue
                if not n_sampled:
                    continue
                bits = votes * 2 > n_sampled  # strict majority
                ids.append(int(did))
                hashes.append(_pack_bits(bits))
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype="int64"),
                    "phash": pd.Series(hashes, dtype="int64"),
                }
            )

    return _parallelize(df.select(id_col, binary_col)).mapInPandas(batches, schema)


def _synth_video_frame(
    did: int, fi: int, text: str | None, size: int
) -> np.ndarray:
    """One synthesized (size, size, 3) RGB frame — the frame stage of
    synthesize_videos, split out so the fused text→hash kernel
    (synth_video_phash) and the AVI-emitting synthesize_videos share one
    definition."""
    rng = np.random.default_rng(
        (int(did) * 1_000_003 + fi) % (2**63) + len(text or "") % 97
    )
    return rng.integers(0, 256, (size, size, 3), dtype=np.uint8)


def synth_video_phash(
    df: DataFrame,
    n_frames: int,
    size: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    every_n: int = 2,
    max_frames: int = 4,
    perturb: bool = False,
    brightness: int = 40,
    id_offset: int = 1_000_000,
) -> DataFrame:
    """text → temporally-pooled 63-bit video pHash in ONE Arrow kernel:
    the fused form of synthesize_videos → [perturb_videos →] video_phash
    for synthetic corpora (guide §4). The chained shape ships an
    uncompressed AVI per doc (n_frames · size² · 3 bytes) to the JVM,
    checkpoints it, then ships it back to a second kernel that RIFF-walks
    and DIB-decodes it; the AVI/DIB roundtrip is lossless for uint8 RGB,
    so hashing the synthesized frames directly is bit-identical (parity
    pytest) — and only the SAMPLED frames (every_n/max_frames) are ever
    synthesized, where the chain encodes all n_frames. ``perturb=True``
    applies perturb_videos' exact edit (whole-frame brighten on the int16
    widening, clipped) and id shift before hashing."""
    D = _dct_matrix(32)
    schema = f"{id_col} bigint, phash bigint"

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, hashes = [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                votes = np.zeros(63, dtype=np.int64)
                n_sampled = 0
                for fi in range(0, min(n_frames, every_n * max_frames), every_n):
                    px = _synth_video_frame(did, fi, text, size)
                    if perturb:
                        px = np.clip(
                            px.astype(np.int16) + brightness, 0, 255
                        ).astype(np.uint8)
                    votes += _phash_bits(px.astype(np.float64).mean(axis=2), D)
                    n_sampled += 1
                if not n_sampled:
                    continue
                bits = votes * 2 > n_sampled  # strict majority
                ids.append(int(did) + (id_offset if perturb else 0))
                hashes.append(_pack_bits(bits))
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype="int64"),
                    "phash": pd.Series(hashes, dtype="int64"),
                }
            )

    return _parallelize(df.select(id_col, text_col)).mapInPandas(batches, schema)


def perturb_videos(
    df: DataFrame,
    brightness: int = 40,
    id_offset: int = 1_000_000,
    binary_col: str = "media",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic visible edit per video (brighten every frame,
    clipped) with a shifted id — the video twin of perturb_images, a
    near-duplicate generator for corpora with no natural video dups."""
    from lakeside_spark.operators.codecs import avi_encode, avi_frames, dib_decode

    schema = f"{id_col} bigint, media binary"

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, blobs = [], []
            for did, buf in zip(pdf[id_col], pdf[binary_col]):
                try:
                    w, h, bpp, chunks = avi_frames(bytes(buf))
                    frames = [
                        np.clip(
                            dib_decode(c[1], w, h, bpp).astype(np.int16)
                            + brightness,
                            0,
                            255,
                        ).astype(np.uint8)
                        for c in chunks
                    ]
                except ValueError:
                    continue
                if not frames:
                    continue
                ids.append(int(did) + id_offset)
                blobs.append(avi_encode(frames))
            yield pd.DataFrame(
                {id_col: pd.Series(ids, dtype="int64"), "media": blobs}
            )

    return _parallelize(df.select(id_col, binary_col)).mapInPandas(batches, schema)
