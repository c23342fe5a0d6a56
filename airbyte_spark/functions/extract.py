r"""HTML→text extraction as Catalyst expressions, plus the multimodal UDFs.

The input_hint's per-row invariant is *byte-identical extracted text per
url*. `_extract_one` is the reference statement of the rule, in Python
over bytes:

  1. drop <script>/<style> elements wholesale
  2. replace every remaining tag with a single space
  3. decode as UTF-8 (errors=replace)
  4. decode the five core HTML entities
  5. collapse whitespace runs to one space; strip ends

`extract_text` is what the engine runs: the same rule as Spark SQL
expressions, byte-identical to `_extract_one` (golden and differential
tests in tests/test_extract.py), so the merge job runs no Python. Where
the translation is not one-to-one:

  - it decodes first, with `make_valid_utf8` (one U+FFFD per maximal
    invalid subpart, as Python). Stripping afterwards is equivalent: a
    decoder never folds an ASCII byte into a replacement;
  - the JDK's `\b` is Unicode-aware and Python's bytes-mode `\b` is not,
    so the boundary after the element name is spelled out;
  - Python's str `\s` is `str.isspace()`, wider than Java's default
    `[ \t\n\x0B\f\r]`: the extra code points (computed from Python) are
    translated to spaces first.

This role corresponds to the reference's normalization "transform" stage
(raw JSON blob → typed columns, base-normalization stream_processor.py).
"""

from __future__ import annotations

import re
import sys

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

_SCRIPT_RE = re.compile(rb"(?is)<(script|style)\b.*?</\1\s*>")
_TAG_RE = re.compile(rb"(?s)<[^>]*>")
_WS_RE = re.compile(r"\s+")

_ENTITIES = [("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&#39;", "'"), ("&amp;", "&")]


def _extract_one(html: bytes | None) -> str | None:
    if html is None:
        return None
    stripped = _TAG_RE.sub(b" ", _SCRIPT_RE.sub(b" ", html))
    text = stripped.decode("utf-8", errors="replace")
    for ent, ch in _ENTITIES:
        text = text.replace(ent, ch)
    return _WS_RE.sub(" ", text).strip()


# Java regexes (Spark's regexp_replace), the counterparts of _SCRIPT_RE and
# _TAG_RE on decoded text; `[ \t\n\x0B\f\r]` is Python's bytes-mode \s
_SCRIPT_JRE = r"(?is)<(script|style)(?![A-Za-z0-9_]).*?</\1[ \t\n\x0B\f\r]*>"
_TAG_JRE = r"<[^>]*>"
# str.isspace() code points outside Java's default \s
_WIDE_WS = "".join(
    ch for ch in map(chr, range(sys.maxunicode + 1)) if ch.isspace() and ch not in " \t\n\x0b\x0c\r"
)


def extract_text(html: Column) -> Column:
    """`_extract_one` as native expressions over a binary html column."""
    text = F.make_valid_utf8(html.cast("string"))
    text = F.regexp_replace(text, _SCRIPT_JRE, " ")
    text = F.regexp_replace(text, _TAG_JRE, " ")
    for ent, ch in _ENTITIES:
        text = F.replace(text, F.lit(ent), F.lit(ch))
    text = F.translate(text, _WIDE_WS, " " * len(_WIDE_WS))
    return F.btrim(F.regexp_replace(text, r"\s+", " "), F.lit(" "))


# --- multimodal stubs -----------------------------------------------------------
# Images/audio/video ride along as opaque binary columns with typed metadata.
# The Spark-side plumbing (schema, Arrow batching, signatures) is real; the
# codec itself is stubbed because no image/audio libraries exist in this
# container. Swap the body for PIL/ffmpeg in deployment.


_IMAGE_META_TYPE = StructType(
    [
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("format", StringType()),
    ]
)


@pandas_udf(_IMAGE_META_TYPE)
def image_metadata_udf(data: pd.Series) -> pd.DataFrame:
    """Deterministic fake decode: derives pseudo-dimensions from the byte
    length so tests are stable. Replace with a real decoder in deployment."""
    lengths = data.map(lambda b: 0 if b is None else len(b))
    return pd.DataFrame(
        {
            "width": (lengths % 1920).astype("int32"),
            "height": (lengths % 1080).astype("int32"),
            "format": lengths.map(lambda n: "png" if n % 2 == 0 else "jpeg"),
        }
    )


def decode_image(data: Column) -> Column:
    raise NotImplementedError(
        "compressed-format decoding (jpeg/png/webp) requires PIL/opencv, "
        "absent in this container; uncompressed P6-PPM and 24-bit BMP are "
        "decoded for real by image_features_udf / make_thumbnail_udf, and "
        "image_metadata_udf remains the plumbing-level deterministic stub"
    )


# --- real decode for uncompressed raster formats (numpy only, no codecs) ---------


def _decode_rgb(b: "bytes | None"):
    """(format, HxWx3 uint8 array) for P6 PPM or uncompressed 24-bit BMP;
    (None, None) for anything else. Pure numpy — the decode path a
    deployment swaps for PIL keeps this exact signature."""
    import numpy as np

    if not b:
        return None, None
    if b[:2] == b"P6":
        # P6 <ws> width <ws> height <ws> maxval <single-ws> raw RGB
        try:
            fields, pos = [], 2
            while len(fields) < 3:
                while pos < len(b) and b[pos : pos + 1].isspace():
                    pos += 1
                if b[pos : pos + 1] == b"#":  # comment to EOL
                    pos = b.index(b"\n", pos) + 1
                    continue
                start = pos
                while pos < len(b) and not b[pos : pos + 1].isspace():
                    pos += 1
                fields.append(int(b[start:pos]))
            pos += 1  # the single whitespace after maxval
            w, h, maxval = fields
            if maxval != 255 or w <= 0 or h <= 0:
                return None, None
            px = np.frombuffer(b, dtype=np.uint8, count=w * h * 3, offset=pos)
            return "ppm", px.reshape(h, w, 3)
        except (ValueError, IndexError):
            return None, None
    if b[:2] == b"BM":
        try:
            data_off = int.from_bytes(b[10:14], "little")
            w = int.from_bytes(b[18:22], "little", signed=True)
            h = int.from_bytes(b[22:26], "little", signed=True)
            bpp = int.from_bytes(b[28:30], "little")
            compression = int.from_bytes(b[30:34], "little")
            if bpp != 24 or compression != 0 or w <= 0 or h == 0:
                return None, None
            flip = h > 0  # positive height ⇒ bottom-up row order
            h = abs(h)
            stride = (w * 3 + 3) & ~3  # rows padded to 4 bytes
            rows = np.frombuffer(
                b, dtype=np.uint8, count=stride * h, offset=data_off
            ).reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
            if flip:
                rows = rows[::-1]
            return "bmp", rows[:, :, ::-1]  # BGR → RGB
        except (ValueError, IndexError):
            return None, None
    return None, None


_IMAGE_FEATURES_TYPE = StructType(
    [
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("format", StringType()),
        StructField("mean_r", FloatType()),
        StructField("mean_g", FloatType()),
        StructField("mean_b", FloatType()),
    ]
)


@pandas_udf(_IMAGE_FEATURES_TYPE)
def image_features_udf(data: pd.Series) -> pd.DataFrame:
    """REAL decode + feature extraction for uncompressed rasters: parses
    P6 PPM / 24-bit BMP with numpy and emits dimensions + per-channel
    means (the simplest \"embedding\" a vision featurizer would produce).
    Unknown/compressed formats yield NULLs — gate them to a codec-equipped
    cluster in deployment."""
    out = {"width": [], "height": [], "format": [], "mean_r": [], "mean_g": [], "mean_b": []}
    for b in data:
        fmt, px = _decode_rgb(b)
        if px is None:
            for k in out:
                out[k].append(None)
            continue
        means = px.reshape(-1, 3).mean(axis=0)
        out["width"].append(px.shape[1])
        out["height"].append(px.shape[0])
        out["format"].append(fmt)
        out["mean_r"].append(float(means[0]))
        out["mean_g"].append(float(means[1]))
        out["mean_b"].append(float(means[2]))
    return pd.DataFrame(out).astype(
        {"width": "Int32", "height": "Int32", "mean_r": "float32",
         "mean_g": "float32", "mean_b": "float32"}
    )


def _dct_matrix(n: int):
    """Orthonormal DCT-II basis (numpy only — no scipy in this container);
    fixed n=32 makes the transform two 32×32 matmuls per image."""
    import numpy as np

    k = np.arange(n)
    m = np.sqrt(2.0 / n) * np.cos(np.pi * (2 * k[None, :] + 1) * k[:, None] / (2 * n))
    m[0] /= np.sqrt(2.0)
    return m


_DCT32 = None  # built lazily (numpy import at module load is fine, keep symmetry)


def _phash_one(b: "bytes | None"):
    """64-bit perceptual hash (classic DCT pHash): decode → luma →
    32×32 block-mean resample → 2D DCT-II → 8×8 low-frequency block →
    median-threshold bits. Robust to resizing/brightness/noise, so
    hamming-close hashes = visually-near-duplicate images."""
    import numpy as np

    global _DCT32
    _fmt, px = _decode_rgb(b)
    if px is None:
        return None
    g = px.astype(np.float64) @ np.array([0.299, 0.587, 0.114])
    h, w = g.shape
    if h >= 32 and w >= 32:
        # area (block-mean) resample via integral image — stable under
        # small shifts, unlike nearest sampling
        integ = np.zeros((h + 1, w + 1))
        integ[1:, 1:] = np.cumsum(np.cumsum(g, axis=0), axis=1)
        r = (np.arange(33) * h) // 32
        c = (np.arange(33) * w) // 32
        sums = (
            integ[r[1:], :][:, c[1:]]
            - integ[r[:-1], :][:, c[1:]]
            - integ[r[1:], :][:, c[:-1]]
            + integ[r[:-1], :][:, c[:-1]]
        )
        area = (r[1:] - r[:-1])[:, None] * (c[1:] - c[:-1])[None, :]
        g32 = sums / area
    else:  # tiny raster: nearest sampling (no zero-area blocks)
        g32 = g[(np.arange(32) * h) // 32][:, (np.arange(32) * w) // 32]
    if _DCT32 is None:
        _DCT32 = _dct_matrix(32)
    coef = _DCT32 @ g32 @ _DCT32.T
    block = coef[:8, :8].ravel()
    bits = block > np.median(block)
    packed = np.uint64(0)
    for bit in bits:
        packed = np.uint64(packed << np.uint64(1)) | np.uint64(bit)
    # two's-complement fold to Spark LongType: explicit, not via the NumPy
    # scalar constructor (int64(uint64) wraps on numpy 1.x but raises
    # OverflowError on numpy>=2 when the top bit is set)
    p = int(packed)
    return p - (1 << 64) if p >= (1 << 63) else p


@pandas_udf(LongType())
def image_phash_udf(data: pd.Series) -> pd.Series:
    """Vectorized-batch 64-bit pHash column (NULL for undecodable bytes).
    Feeds hamming_banded_pairs for image near-dup detection at Σ bucket²
    cost — the multimodal sibling of SimHash text dedup."""
    return data.map(_phash_one).astype(object)


def image_near_dup_pairs(
    df,
    data_col: str = "data",
    id_col: str = "doc_id",
    bands: int = 8,
    max_hamming: int = 7,
):
    """Image near-duplicate pairs: pHash fingerprint (one Arrow-batched
    decode pass, narrow) → hamming-adjacent band self-join (recall 1.0 for
    hamming ≤ bands-1 by pigeonhole) → popcount verify. Returns (a_id,
    b_id, hamming). Cost ∝ Σ bucket², never corpus² — the exact scale
    shape of the text SimHash path, reusing its join machinery."""
    from airbyte_spark.operators.dedup_text import hamming_banded_pairs

    fps = df.select(
        F.col(id_col).alias("doc_id"), image_phash_udf(F.col(data_col)).alias("fp")
    )
    return hamming_banded_pairs(
        fps, fp_col="fp", id_col="doc_id", bits=64, bands=bands,
        max_hamming=max_hamming,
    )


def make_thumbnail_udf(max_side: int = 64):
    """Factory for a decode → nearest-neighbor downscale → re-encode (P6)
    thumbnail UDF — the full transform loop, not a stub: output bytes are
    a valid PPM whose pixels come from the real input raster. Aspect
    ratio is preserved; images already within max_side pass through
    re-encoded."""
    from pyspark.sql.types import BinaryType

    @pandas_udf(BinaryType())
    def thumbnail_udf(data: pd.Series) -> pd.Series:
        import numpy as np

        def one(b):
            _fmt, px = _decode_rgb(b)
            if px is None:
                return None
            h, w = px.shape[:2]
            scale = max(h, w) / max_side
            if scale > 1:
                nh, nw = max(1, int(h / scale)), max(1, int(w / scale))
                ys = (np.arange(nh) * (h / nh)).astype(int)
                xs = (np.arange(nw) * (w / nw)).astype(int)
                px = px[ys][:, xs]
                h, w = nh, nw
            return b"P6\n%d %d\n255\n" % (w, h) + px.tobytes()

        return data.map(one)

    return thumbnail_udf


_AUDIO_META_TYPE = StructType(
    [
        StructField("sample_rate", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("duration_ms", IntegerType()),
    ]
)


@pandas_udf(_AUDIO_META_TYPE)
def audio_metadata_udf(data: pd.Series) -> pd.DataFrame:
    """Deterministic fake probe (≡ ffprobe header parse in deployment):
    rate/channels/duration derived from byte length so tests are stable."""
    lengths = data.map(lambda b: 0 if b is None else len(b))
    return pd.DataFrame(
        {
            "sample_rate": lengths.map(lambda n: 16000 if n % 3 else 44100).astype("int32"),
            "channels": ((lengths % 2) + 1).astype("int32"),
            # fake PCM16 mono estimate: bytes / (2 B/sample × 16 kHz)
            "duration_ms": (lengths * 1000 // 32000).astype("int32"),
        }
    )


def _parse_wav(b: "bytes | None"):
    """(sample_rate, channels, bits, data_offset, data_len) for a PCM
    RIFF/WAVE file; None otherwise. Chunk-walks the container for real —
    the header probe ffprobe would run, minus compressed codecs."""
    if not b or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    pos, fmt = 12, None
    while pos + 8 <= len(b):
        cid = b[pos : pos + 4]
        size = int.from_bytes(b[pos + 4 : pos + 8], "little")
        body = pos + 8
        if cid == b"fmt " and size >= 16:
            audio_fmt = int.from_bytes(b[body : body + 2], "little")
            if audio_fmt != 1:  # PCM only
                return None
            fmt = (
                int.from_bytes(b[body + 4 : body + 8], "little"),  # rate
                int.from_bytes(b[body + 2 : body + 4], "little"),  # channels
                int.from_bytes(b[body + 14 : body + 16], "little"),  # bits
            )
        elif cid == b"data" and fmt is not None:
            return (*fmt, body, min(size, len(b) - body))
        pos = body + size + (size & 1)  # chunks are 2-byte aligned
    return None


_AUDIO_FEATURES_TYPE = StructType(
    [
        StructField("sample_rate", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("duration_ms", IntegerType()),
        StructField("rms", FloatType()),
        StructField("zero_cross_rate", FloatType()),
    ]
)


@pandas_udf(_AUDIO_FEATURES_TYPE)
def audio_features_udf(data: pd.Series) -> pd.DataFrame:
    """REAL probe + DSP for PCM16 WAV: chunk-walks the RIFF container,
    then computes RMS loudness (normalized to [0,1]) and zero-crossing
    rate over the samples with numpy — the features a speech-quality
    filter gates on. Non-WAV/compressed bytes yield NULLs."""
    import numpy as np

    out = {"sample_rate": [], "channels": [], "duration_ms": [], "rms": [], "zero_cross_rate": []}
    for b in data:
        meta = _parse_wav(bytes(b)) if b is not None else None
        # a malformed header can declare rate=0 or channels=0 — treat it as
        # undecodable rather than dividing by it
        if meta is None or meta[2] != 16 or meta[0] <= 0 or meta[1] <= 0:
            for k in out:
                out[k].append(None)
            continue
        rate, ch, _bits, off, dlen = meta
        samples = np.frombuffer(b, dtype="<i2", count=dlen // 2, offset=off).astype(
            np.float64
        )
        n_frames = len(samples) // ch if ch else 0
        if n_frames == 0:
            for k in out:
                out[k].append(None)
            continue
        mono = samples[: n_frames * ch].reshape(n_frames, ch).mean(axis=1)
        signs = np.sign(mono)
        nz = signs != 0
        crossings = int(np.count_nonzero(np.diff(signs[nz]) != 0)) if nz.any() else 0
        out["sample_rate"].append(rate)
        out["channels"].append(ch)
        out["duration_ms"].append(int(n_frames * 1000 / rate))
        out["rms"].append(float(np.sqrt(np.mean(mono**2)) / 32768.0))
        out["zero_cross_rate"].append(float(crossings / max(1, n_frames - 1)))
    return pd.DataFrame(out).astype(
        {"sample_rate": "Int32", "channels": "Int32", "duration_ms": "Int32",
         "rms": "float32", "zero_cross_rate": "float32"}
    )


def make_audio_mel_udf(n_mels: int = 16, frame: int = 512, hop: int = 256):
    """Factory for a REAL log-mel feature extractor over PCM16 WAV bytes
    (numpy FFT — no external audio libs): hann-windowed frames → rfft
    power → HTK-mel triangular filterbank → log10 → mean over time.
    Output: array<float> of n_mels per row (NULL for non-WAV bytes) — the
    fixed-size audio embedding a speech-quality filter or ANN index
    consumes, computed Arrow-batched inside the scan partition."""

    @pandas_udf(ArrayType(FloatType()))
    def audio_mel_udf(data: pd.Series) -> pd.Series:
        import numpy as np

        def mel(f):
            return 2595.0 * np.log10(1.0 + f / 700.0)

        def inv_mel(m):
            return 700.0 * (10.0 ** (m / 2595.0) - 1.0)

        win = np.hanning(frame)
        n_bins = frame // 2 + 1

        def one(b):
            meta = _parse_wav(bytes(b)) if b is not None else None
            if meta is None or meta[2] != 16 or meta[0] <= 0 or meta[1] <= 0:
                return None
            rate, ch, _bits, off, dlen = meta
            samples = np.frombuffer(
                b, dtype="<i2", count=dlen // 2, offset=off
            ).astype(np.float64)
            n_frames_pcm = len(samples) // ch if ch else 0
            if n_frames_pcm < frame:
                return None
            mono = samples[: n_frames_pcm * ch].reshape(n_frames_pcm, ch).mean(axis=1)
            mono /= 32768.0
            n_hops = 1 + (len(mono) - frame) // hop
            idx = np.arange(frame)[None, :] + hop * np.arange(n_hops)[:, None]
            spec = np.abs(np.fft.rfft(mono[idx] * win, axis=1)) ** 2
            # triangular HTK-mel filterbank over [0, rate/2]
            edges = inv_mel(np.linspace(0.0, mel(rate / 2.0), n_mels + 2))
            bins = np.floor((frame + 1) * edges / rate).astype(int)
            fb = np.zeros((n_mels, n_bins))
            for m_i in range(n_mels):
                lo, cc, hi = bins[m_i], bins[m_i + 1], bins[m_i + 2]
                if cc > lo:
                    fb[m_i, lo:cc] = (np.arange(lo, cc) - lo) / (cc - lo)
                if hi > cc:
                    fb[m_i, cc:hi] = (hi - np.arange(cc, hi)) / (hi - cc)
            logmel = np.log10(spec @ fb.T + 1e-10)
            return logmel.mean(axis=0).astype(np.float32).tolist()

        return data.map(one).astype(object)

    return audio_mel_udf


def _audio_fp_one(
    b: "bytes | None",
    n_mels: int = 9,
    n_blocks: int = 8,
    frame: int = 512,
    hop: int = 256,
):
    """64-bit audio fingerprint: PCM16 WAV → log-mel energy matrix →
    8 time blocks × 8 sign-of-adjacent-band-descent bits (the
    Haitsma-Kalker sign-of-energy-difference family, reduced to one
    clip-level signature). Sign bits are invariant to volume (log energy
    shifts by a constant) and robust to phase/codec jitter, so
    hamming-close fingerprints = the same audio content. Mirrors
    make_audio_mel_udf's filterbank math but stays a separate function
    on purpose: the mel UDF backs a stored-expected-value oracle
    (audio_mel_features) and must not drift."""
    import numpy as np

    meta = _parse_wav(bytes(b)) if b is not None else None
    if meta is None or meta[2] != 16 or meta[0] <= 0 or meta[1] <= 0:
        return None
    rate, ch, _bits, off, dlen = meta
    samples = np.frombuffer(b, dtype="<i2", count=dlen // 2, offset=off).astype(
        np.float64
    )
    n_pcm = len(samples) // ch if ch else 0
    if n_pcm < frame * n_blocks:  # too short for a block structure
        return None
    mono = samples[: n_pcm * ch].reshape(n_pcm, ch).mean(axis=1) / 32768.0

    def mel(f):
        return 2595.0 * np.log10(1.0 + f / 700.0)

    def inv_mel(m):
        return 700.0 * (10.0 ** (m / 2595.0) - 1.0)

    win = np.hanning(frame)
    n_bins = frame // 2 + 1
    n_hops = 1 + (len(mono) - frame) // hop
    idx = np.arange(frame)[None, :] + hop * np.arange(n_hops)[:, None]
    spec = np.abs(np.fft.rfft(mono[idx] * win, axis=1)) ** 2
    edges = inv_mel(np.linspace(0.0, mel(rate / 2.0), n_mels + 2))
    bins = np.floor((frame + 1) * edges / rate).astype(int)
    fb = np.zeros((n_mels, n_bins))
    for m_i in range(n_mels):
        lo, cc, hi = bins[m_i], bins[m_i + 1], bins[m_i + 2]
        if cc > lo:
            fb[m_i, lo:cc] = (np.arange(lo, cc) - lo) / (cc - lo)
        if hi > cc:
            fb[m_i, cc:hi] = (hi - np.arange(cc, hi)) / (hi - cc)
    logmel = np.log10(spec @ fb.T + 1e-10)  # (n_hops, n_mels)
    cuts = np.linspace(0, len(logmel), n_blocks + 1).astype(int)
    blocks = np.stack(
        [logmel[cuts[i]:cuts[i + 1]].mean(axis=0) for i in range(n_blocks)]
    )
    bits = (blocks[:, :-1] > blocks[:, 1:]).ravel()  # n_blocks × (n_mels-1)
    packed = np.uint64(0)
    for bit in bits[:64]:
        packed = np.uint64(packed << np.uint64(1)) | np.uint64(bit)
    p = int(packed)  # two's-complement fold, same rule as _phash_one
    return p - (1 << 64) if p >= (1 << 63) else p


@pandas_udf(LongType())
def audio_fingerprint_udf(data: pd.Series) -> pd.Series:
    """Vectorized-batch 64-bit audio fingerprint column (NULL for
    non-WAV/too-short bytes) — the audio sibling of image_phash_udf,
    feeding the same banded signature registries."""
    return data.map(_audio_fp_one).astype(object)


def _split_ppm_frames(b: "bytes | None", max_frames: int = 64):
    """Split a concatenated-P6 stream (the uncompressed video-ish
    container this sandbox can actually decode — raw PPM frames back to
    back, the moral equivalent of y4m/raw MJPEG) into frame byte slices
    by WALKING THE HEADERS: each frame declares its own width/height, so
    this is a real parse, not a fixed-stride slice. Returns [] for bytes
    that don't start with a P6 header; stops at the first malformed
    frame (prefix salvage, like a truncated stream)."""
    if not b:
        return []
    frames = []
    pos = 0
    n = len(b)
    while pos < n and len(frames) < max_frames:
        if b[pos : pos + 2] != b"P6":
            break
        # header: "P6" ws width ws height ws maxval single-ws raster
        j = pos + 2
        fields = []
        while len(fields) < 3 and j < n:
            while j < n and b[j : j + 1].isspace():
                j += 1
            start = j
            while j < n and not b[j : j + 1].isspace():
                j += 1
            if start == j:
                return frames
            try:
                fields.append(int(b[start:j]))
            except ValueError:
                return frames
        if len(fields) < 3 or j >= n:
            return frames
        j += 1  # the single whitespace byte before the raster
        w, h, _maxval = fields
        if w <= 0 or h <= 0:
            return frames
        end = j + w * h * 3
        if end > n:
            return frames  # truncated final frame: drop it
        frames.append(b[pos:end])
        pos = end
    return frames


def make_video_phash_udf(every_n: int = 1, max_frames: int = 16):
    """Factory for a per-video frame-signature column: concatenated-P6
    video bytes → array<long> of 64-bit pHashes over every `every_n`-th
    frame (at most `max_frames`), one Arrow-batched parse+hash pass.
    NULL for bytes with no parseable frame. The signature SEQUENCE is
    what video identity needs — near-dup videos share hamming-close
    frame hashes, and containment over the sequence tolerates cuts,
    re-encodes and frame drops that a single whole-file hash cannot."""

    @pandas_udf(ArrayType(LongType()))
    def video_phash_udf(data: pd.Series) -> pd.Series:
        # per-Arrow-batch memo keyed by frame bytes: videos repeat frames
        # (static scenes, loops, shared intros), and the DCT hash costs
        # ~1000× the dict probe — identical rasters decode once per batch
        memo: dict = {}

        def hash_frame(f):
            s = memo.get(f)
            if s is None and f not in memo:
                s = _phash_one(f)
                memo[f] = s
            return s

        def one(b):
            frames = _split_ppm_frames(
                bytes(b) if b is not None else None,
                max_frames=max_frames * every_n,
            )
            sigs = [hash_frame(f) for f in frames[::every_n][:max_frames]]
            sigs = [s for s in sigs if s is not None]
            return sigs or None

        return data.map(one).astype(object)

    return video_phash_udf


def sample_frames(
    df,
    data_col: str = "data",
    id_col: str = "doc_id",
    frame_bytes: int = 4096,
    every_n: int = 10,
    max_frames: int = 8,
):
    """Video frame sampling as a 1→N `mapInPandas` expansion: each input
    row (id, video bytes) yields one output row per sampled frame
    (id, frame_idx, frame binary). The Arrow batch shape, output schema
    and pandas-side expansion (index.repeat — vectorized, no per-row
    Python loop for the fan-out) are the real plumbing; the "frame" itself
    is a deterministic byte slice standing in for an ffmpeg decode, which
    this container cannot run.

    Scale shape: the expansion is a narrow transformation — frames are
    emitted inside the parent row's partition, so a downstream
    per-frame feature UDF runs co-partitioned with no shuffle."""
    from pyspark.sql.types import BinaryType, LongType

    out_schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField("frame_idx", LongType()),
            StructField("frame", BinaryType()),
        ]
    )

    def gen(batches):
        for pdf in batches:
            data = pdf[data_col]
            n_frames = data.map(
                lambda b: 0 if b is None else min(max_frames, max(0, len(b) // (frame_bytes * every_n)))
            )
            idx = pdf.index.repeat(n_frames)
            if len(idx) == 0:
                yield pd.DataFrame({id_col: [], "frame_idx": [], "frame": []}).astype(
                    {id_col: "int64", "frame_idx": "int64", "frame": object}
                )
                continue
            out = pd.DataFrame({id_col: pdf.loc[idx, id_col].values})
            frame_no = out.groupby(id_col).cumcount()
            out["frame_idx"] = frame_no * every_n
            blobs = pdf.loc[idx, data_col].values
            out["frame"] = [
                b[int(i) * frame_bytes : (int(i) + 1) * frame_bytes]
                for b, i in zip(blobs, out["frame_idx"].values)
            ]
            yield out

    return df.select(id_col, data_col).mapInPandas(gen, out_schema)
