"""Audio fingerprinting: spectral-band signatures + banded hamming dedup.

The audio analog of image pHash (operators/multimodal.py): a compact
bit signature per clip that survives small gain/noise edits, feeding the
same pigeonhole-banded hamming join (operators/dedup.hamming_pairs).

Signature (Haitsma & Kalker 2002's energy-difference scheme): decode
PCM with the stdlib WAV codec, split the mono signal into 8 equal time
windows, FFT each window (numpy), sum energy into 8 log-spaced bands,
and emit the sign of the TIME-AND-BAND double difference
(e[w,b]-e[w-1,b]) - (e[w,b+1]-e[w-1,b+1]) — 7×7 = 49 bits. The cross-
band term is what makes it robust: adjacent bands share the noise
floor, so noise cancels where a plain time difference would flip
(measured: gain-0.7 + 0.002-noise variants land ≤5 bits away while
unrelated clips sit ≥6, median ~25).

Everything is a map-only Arrow kernel; undecodable clips drop.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from lakeside_spark.operators import codecs
from lakeside_spark.operators.similarity import _parallelize

N_WINDOWS = 8
N_BANDS = 8
BITS = (N_WINDOWS - 1) * (N_BANDS - 1)  # 49


def _band_energies(mono: np.ndarray) -> np.ndarray:
    """[N_WINDOWS, N_BANDS] spectral band energies."""
    n = len(mono) // N_WINDOWS
    if n < N_BANDS * 2:
        raise ValueError("clip too short for fingerprinting")
    out = np.empty((N_WINDOWS, N_BANDS))
    # log-spaced band edges over the positive spectrum
    edges = np.unique(
        np.geomspace(1, n // 2, N_BANDS + 1).astype(int)
    )
    while len(edges) < N_BANDS + 1:  # degenerate tiny windows
        edges = np.append(edges, edges[-1] + 1)
    for wi in range(N_WINDOWS):
        spec = np.abs(np.fft.rfft(mono[wi * n : (wi + 1) * n])) ** 2
        for bi in range(N_BANDS):
            out[wi, bi] = spec[edges[bi] : edges[bi + 1]].sum()
    return out


def _fp_val(e: np.ndarray) -> int:
    """Pack the [N_WINDOWS, N_BANDS] band energies into the 49-bit
    double-difference signature — shared by audio_fingerprint (decoded
    media) and the fused synth_audio_fingerprint."""
    val = 0
    bit = 0
    for wi in range(1, N_WINDOWS):
        for bi in range(N_BANDS - 1):
            if (e[wi, bi] - e[wi - 1, bi]) - (
                e[wi, bi + 1] - e[wi - 1, bi + 1]
            ) > 0:
                val |= 1 << bit
            bit += 1
    return val


def audio_fingerprint(
    df: DataFrame, binary_col: str = "media", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, afp) — 49-bit spectral double-difference signature."""
    schema = f"{id_col} bigint, afp bigint"

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from wave import Error as wave_error

        for pdf in it:
            ids, fps = [], []
            for did, buf in zip(pdf[id_col], pdf[binary_col]):
                try:
                    _rate, _nch, samples = codecs.wav_decode(bytes(buf))
                    e = _band_energies(samples.mean(axis=1))
                except (ValueError, EOFError, wave_error):
                    continue
                ids.append(int(did))
                fps.append(_fp_val(e))
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype="int64"),
                    "afp": pd.Series(fps, dtype="int64"),
                }
            )

    return _parallelize(df.select(id_col, binary_col)).mapInPandas(batches, schema)


def synthesize_audio(
    docs: DataFrame,
    rate: int = 8000,
    seconds: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic REAL WAV clips from a text column: the text's md5
    stream seeds three sine components (frequency + phase) and a
    per-window amplitude envelope for each — NON-stationary by
    construction, which is what the window-difference fingerprint keys
    on (a flat tone has no spectral dynamics to sign). Encoded with the
    stdlib PCM codec."""
    schema = f"{id_col} bigint, media binary"
    n = int(rate * seconds)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        t = np.arange(n) / rate
        win = (np.arange(n) * N_WINDOWS // n).clip(0, N_WINDOWS - 1)
        for pdf in it:
            ids, blobs = [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                sig = _synth_signal(text, n, rate, t, win)
                ids.append(int(did))
                blobs.append(codecs.wav_encode(sig, rate=rate))
            yield pd.DataFrame(
                {id_col: pd.Series(ids, dtype="int64"), "media": blobs}
            )

    return _parallelize(docs.select(id_col, text_col)).mapInPandas(batches, schema)


def _synth_signal(
    text: str | None, n: int, rate: int, t: np.ndarray, win: np.ndarray
) -> np.ndarray:
    """The float signal stage of synthesize_audio (already scaled by 1/3,
    i.e. exactly what wav_encode receives) — split out so the fused
    text→fingerprint kernel shares one definition with the WAV emitter."""
    import hashlib

    seed = (text or "").encode()
    d = hashlib.md5(seed).digest() + hashlib.md5(seed + b"1").digest()
    sig = np.zeros(n)
    for k in range(3):
        freq = 100 + (d[k * 3] << 4 | d[k * 3 + 1] >> 4)
        freq = min(freq, rate // 2 - 100)
        phase = d[k * 3 + 2] / 255.0 * 2 * np.pi
        env_bytes = d[9 + k * N_WINDOWS - k : 9 + (k + 1) * N_WINDOWS - k]
        env = 0.1 + 0.9 * (
            np.frombuffer(bytes(env_bytes), dtype=np.uint8) / 255.0
        )
        sig += env[win] * np.sin(2 * np.pi * freq * t + phase)
    return sig / 3.0


def _pcm_roundtrip(x: np.ndarray) -> np.ndarray:
    """float signal → exactly what wav_decode returns after wav_encode:
    16-bit PCM quantization (clip to int16 range) scaled back by 1/32768.
    The fused kernels apply this wherever the chained path crosses a WAV
    encode/decode boundary, so fused and chained fingerprints see
    bit-identical samples."""
    return (
        np.clip(x * 32767.0, -32768, 32767).astype("<i2").astype(np.float64)
        / 32768.0
    )


def synth_audio_fingerprint(
    docs: DataFrame,
    rate: int = 8000,
    seconds: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    perturb: bool = False,
    gain: float = 0.7,
    noise: float = 0.002,
    id_offset: int = 1_000_000,
) -> DataFrame:
    """text → 49-bit audio fingerprint in ONE Arrow kernel: the fused
    form of synthesize_audio → [perturb_audio →] audio_fingerprint for
    synthetic corpora (guide §4). The chained shape ships an ~8KB WAV per
    doc to the JVM, checkpoints it, then ships it back to a second kernel
    that immediately PCM-decodes it; _pcm_roundtrip replays the int16
    quantization at every encode/decode boundary the chain crosses, so
    the fused fingerprints are bit-identical (parity pytest) with no blob
    traffic. ``perturb=True`` applies perturb_audio's exact edit (gain +
    doc_id-seeded noise, clipped, re-quantized) and id shift."""
    schema = f"{id_col} bigint, afp bigint"
    n = int(rate * seconds)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        t = np.arange(n) / rate
        win = (np.arange(n) * N_WINDOWS // n).clip(0, N_WINDOWS - 1)
        for pdf in it:
            ids, fps = [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                mono = _pcm_roundtrip(_synth_signal(text, n, rate, t, win))
                if perturb:
                    rng = np.random.default_rng(int(did))
                    mono = _pcm_roundtrip(
                        np.clip(mono * gain + rng.normal(0, noise, n), -1, 1)
                    )
                try:
                    e = _band_energies(mono)
                except ValueError:
                    continue
                ids.append(int(did) + (id_offset if perturb else 0))
                fps.append(_fp_val(e))
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype="int64"),
                    "afp": pd.Series(fps, dtype="int64"),
                }
            )

    return _parallelize(docs.select(id_col, text_col)).mapInPandas(batches, schema)


def perturb_audio(
    df: DataFrame,
    gain: float = 0.7,
    noise: float = 0.002,
    id_offset: int = 1_000_000,
    binary_col: str = "media",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic audible edit (gain change + tiny id-seeded noise)
    with a shifted id — the near-duplicate generator for audio dedup."""
    schema = f"{id_col} bigint, media binary"

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from wave import Error as wave_error

        for pdf in it:
            ids, blobs = [], []
            for did, buf in zip(pdf[id_col], pdf[binary_col]):
                try:
                    rate, _nch, samples = codecs.wav_decode(bytes(buf))
                except (ValueError, EOFError, wave_error):
                    continue
                rng = np.random.default_rng(int(did))
                edited = samples.mean(axis=1) * gain + rng.normal(
                    0, noise, len(samples)
                )
                ids.append(int(did) + id_offset)
                blobs.append(codecs.wav_encode(np.clip(edited, -1, 1), rate=rate))
            yield pd.DataFrame(
                {id_col: pd.Series(ids, dtype="int64"), "media": blobs}
            )

    return _parallelize(df.select(id_col, binary_col)).mapInPandas(batches, schema)
