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

Every kernel composes the stages written once below — synthesize
(``_synth_signal``), the WAV int16 quantization (``_pcm_roundtrip``), the
gain + noise edit and the fingerprint — on numpy samples, through
multimodal's one row runner. The fused ``synth_audio_fingerprint``
replays the quantization at every WAV boundary the chained synthesize →
[perturb →] fingerprint path crosses, so the two are bit-identical.

Null and undecodable clips drop: a null blob reads as empty bytes, which
no WAV decode reads.
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import DataFrame

from lakeside_spark.operators import codecs
from lakeside_spark.operators.multimodal import (
    _WAV_ERRORS,
    PERTURB_ID_OFFSET,
    _map_rows,
)

N_WINDOWS = 8
N_BANDS = 8
BITS = (N_WINDOWS - 1) * (N_BANDS - 1)  # 49
#: synthesized clips: RATE Hz mono, SECONDS long
RATE = 8000
SECONDS = 0.5
#: the perturb edit: gain, then id-seeded gaussian noise of this std
EDIT_GAIN = 0.7
EDIT_NOISE = 0.002
_N = int(RATE * SECONDS)
_T = np.arange(_N) / RATE
_WIN = (np.arange(_N) * N_WINDOWS // _N).clip(0, N_WINDOWS - 1)


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
    double-difference signature."""
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


def _synth_signal(text: str | None) -> np.ndarray:
    """The float signal of a synthesized clip (already scaled by 1/3,
    i.e. exactly what wav_encode receives)."""
    seed = (text or "").encode()
    d = hashlib.md5(seed).digest() + hashlib.md5(seed + b"1").digest()
    sig = np.zeros(_N)
    for k in range(3):
        freq = 100 + (d[k * 3] << 4 | d[k * 3 + 1] >> 4)
        freq = min(freq, RATE // 2 - 100)
        phase = d[k * 3 + 2] / 255.0 * 2 * np.pi
        env_bytes = d[9 + k * N_WINDOWS - k : 9 + (k + 1) * N_WINDOWS - k]
        env = 0.1 + 0.9 * (
            np.frombuffer(bytes(env_bytes), dtype=np.uint8) / 255.0
        )
        sig += env[_WIN] * np.sin(2 * np.pi * freq * _T + phase)
    return sig / 3.0


def _pcm_roundtrip(x: np.ndarray) -> np.ndarray:
    """float signal → exactly what wav_decode returns after wav_encode:
    16-bit PCM quantization (clip to int16 range) scaled back by 1/32768."""
    return (
        np.clip(x * 32767.0, -32768, 32767).astype("<i2").astype(np.float64)
        / 32768.0
    )


def _gain_noise(did: int, mono: np.ndarray) -> np.ndarray:
    """The audio perturb edit: gain plus doc_id-seeded noise, clipped."""
    rng = np.random.default_rng(int(did))
    return np.clip(mono * EDIT_GAIN + rng.normal(0, EDIT_NOISE, len(mono)), -1, 1)


def synthesize_audio(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic REAL WAV clips from a text column: the text's md5
    stream seeds three sine components (frequency + phase) and a
    per-window amplitude envelope for each — NON-stationary by
    construction, which is what the window-difference fingerprint keys
    on (a flat tone has no spectral dynamics to sign). Encoded with the
    stdlib PCM codec."""

    def row(did, text):
        yield did, codecs.wav_encode(_synth_signal(text), rate=RATE)

    schema = {id_col: "bigint", "media": "binary"}
    return _map_rows(docs, [id_col, text_col], schema, row)


def audio_fingerprint(
    df: DataFrame, binary_col: str = "media", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, afp) — 49-bit spectral double-difference signature."""

    def row(did, buf):
        try:
            _rate, _nch, samples = codecs.wav_decode(buf)
            e = _band_energies(samples.mean(axis=1))
        except _WAV_ERRORS:
            return
        yield did, _fp_val(e)

    return _map_rows(df, [id_col, binary_col], {id_col: "bigint", "afp": "bigint"}, row)


def synth_audio_fingerprint(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    perturb: bool = False,
) -> DataFrame:
    """text → 49-bit audio fingerprint in ONE Arrow kernel: the fused
    form of synthesize_audio → [perturb_audio →] audio_fingerprint for
    synthetic corpora (guide §4). The chained shape ships an ~8KB WAV per
    doc to the JVM, checkpoints it, then ships it back to a second kernel
    that immediately PCM-decodes it; the fused kernel runs the same
    stages with _pcm_roundtrip in place of each WAV encode/decode, with
    no blob traffic."""

    def row(did, text):
        mono = _pcm_roundtrip(_synth_signal(text))
        if perturb:
            mono = _pcm_roundtrip(_gain_noise(did, mono))
            did += PERTURB_ID_OFFSET
        yield did, _fp_val(_band_energies(mono))

    return _map_rows(docs, [id_col, text_col], {id_col: "bigint", "afp": "bigint"}, row)


def perturb_audio(
    df: DataFrame, binary_col: str = "media", id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic audible edit (gain change + tiny id-seeded noise)
    with a shifted id — the near-duplicate generator for audio dedup."""

    def row(did, buf):
        try:
            rate, _nch, samples = codecs.wav_decode(buf)
        except _WAV_ERRORS:
            return
        edited = _gain_noise(did, samples.mean(axis=1))
        yield did + PERTURB_ID_OFFSET, codecs.wav_encode(edited, rate=rate)

    schema = {id_col: "bigint", "media": "binary"}
    return _map_rows(df, [id_col, binary_col], schema, row)
