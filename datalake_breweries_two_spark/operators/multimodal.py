"""Multimodal (image/audio/video) column plumbing.

Model: media is an opaque ``binary`` column plus a typed metadata struct —
the lake never parses media inside the JVM. Decode / feature-extract /
frame-sample run as Arrow-batched Pandas UDFs over ``mapInPandas`` so
bytes cross the JVM↔Python boundary once per batch, not per row.

The generic decode step is STUBBED (image/video codecs are not in this
container): ``decode_stub`` produces a deterministic fake feature vector
from the bytes so the Spark-side plumbing — schema, batch iteration,
partition sizing — is real and tested; swap ``_decode_payload`` for a real
codec (PIL/pyav) in production. AUDIO has a REAL codec (r13): WAV/PCM
decode via the stdlib ``wave`` module + numpy — ``decode_wav`` parses
actual RIFF/WAVE bytes (8/16/32-bit PCM, any channel count) and
``extract_wav_features`` runs it through the same ``mapInPandas``
plumbing, proving the batch shape carries genuine media decoding, not
just the digest stub.

Scale notes: media rows are large (MBs) — size
``spark.sql.files.maxPartitionBytes`` so a partition holds a bounded number
of blobs, keep metadata in separate slim columns so metadata-only queries
never read blob bytes (parquet column pruning), and never ``collect`` blobs.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("media_type", T.StringType()),  # image | audio | video
        T.StructField("mime", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.IntegerType()),
        T.StructField("payload", T.BinaryType()),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("payload_bytes", T.IntegerType()),
        T.StructField("sha256", T.StringType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)


def synthetic_media(spark: SparkSession, n: int = 64) -> DataFrame:
    """Deterministic fake media table (payload = seeded bytes) for testing
    the plumbing without codecs."""
    rows = []
    for i in range(n):
        payload = hashlib.sha256(str(i).encode()).digest() * 32  # 1 KiB blob
        mt = ["image", "audio", "video"][i % 3]
        rows.append((i, mt, f"application/x-fake-{mt}", 64, 64, 1000, payload))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def _decode_payload(payload: bytes, media_type: str, dim: int = 8) -> list[float]:
    """STUB decode: deterministic pseudo-feature from the payload digest.

    Production: replace with PIL.Image.open / librosa.load / pyav frame
    sampling. Raises for unknown media types (mirrors a codec error).
    """
    if media_type not in ("image", "audio", "video"):
        raise NotImplementedError(f"no codec for media_type={media_type!r}")
    digest = hashlib.sha256(payload).digest()
    return [b / 255.0 for b in digest[:dim]]


def extract_features(media: DataFrame, dim: int = 8) -> DataFrame:
    """Decode + featurize via ``mapInPandas`` — Arrow batches in/out, one
    Python roundtrip per batch. Output schema drops the payload so
    downstream stages are slim."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": pdf["media_type"],
                    "payload_bytes": pdf["payload"].map(len).astype("int32"),
                    "sha256": pdf["payload"].map(
                        lambda b: hashlib.sha256(b).hexdigest()
                    ),
                    "feature": [
                        _decode_payload(p, t, dim)
                        for p, t in zip(pdf["payload"], pdf["media_type"])
                    ],
                }
            )

    return media.mapInPandas(batches, FEATURE_SCHEMA)


# ------------------------------------------------------------- real codec
#
# WAV/PCM is the one media format a no-extra-deps container can decode for
# real: the RIFF/WAVE layout is fully handled by the stdlib `wave` module
# and raw PCM frames are a numpy.frombuffer away. This is the production
# swap-in the stub docstrings promise, behind the SAME mapInPandas batch
# shape — schema out, Arrow batches in, blob crosses the boundary once.

WAV_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("duration_ms", T.IntegerType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("peak", T.DoubleType()),
        T.StructField("zero_crossing_rate", T.DoubleType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)


def encode_wav(
    samples: "list[float]",
    sample_rate: int = 16000,
    n_channels: int = 1,
    sampwidth: int = 2,
    ieee_float: bool = False,
) -> bytes:
    """Encode float samples in [-1, 1] as PCM WAV bytes (stdlib ``wave``
    writer) — the test-side twin of :func:`decode_wav`, and a
    deterministic way to mint REAL media payloads without codec deps.
    ``sampwidth`` 2 (16-bit, default) or 3 (24-bit packed little-endian —
    the r14 codec-boundary widening's round-trip source); with
    ``ieee_float=True``, 4 (float32) or 8 (float64) in a hand-built
    WAVE_FORMAT_IEEE_FLOAT (fmt 3) container (r15 widening — scientific
    audio's common interchange format)."""
    import io
    import wave

    import numpy as np

    arr = np.clip(np.asarray(samples, dtype=np.float64), -1.0, 1.0)
    if ieee_float:
        # stdlib ``wave`` cannot WRITE fmt-3 containers either — mint the
        # RIFF by hand (fmt + data chunks, word-aligned; the same layout
        # decode_wav's fallback parser reads back)
        import struct

        if sampwidth == 4:
            frames = arr.astype("<f4").tobytes()
        elif sampwidth == 8:
            frames = arr.astype("<f8").tobytes()
        else:
            raise NotImplementedError(
                f"encode_wav ieee_float sampwidth {sampwidth}"
            )
        fmt = struct.pack(
            "<HHIIHH",
            3,  # WAVE_FORMAT_IEEE_FLOAT
            n_channels,
            sample_rate,
            sample_rate * sampwidth * n_channels,
            sampwidth * n_channels,
            sampwidth * 8,
        )
        body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        body += b"data" + struct.pack("<I", len(frames)) + frames
        if len(frames) % 2:
            body += b"\x00"
        return b"RIFF" + struct.pack("<I", len(body)) + body
    if sampwidth == 2:
        frames = (arr * 32767.0).round().astype("<i2").tobytes()
    elif sampwidth == 3:
        ints = (arr * 8388607.0).round().astype("<i4")
        # pack each 32-bit int's low 3 little-endian bytes (two's
        # complement survives truncation for values in 24-bit range)
        frames = ints.astype("<u4").view(np.uint8).reshape(-1, 4)[:, :3].tobytes()
    else:
        raise NotImplementedError(f"encode_wav sampwidth {sampwidth}")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(n_channels)
        w.setsampwidth(sampwidth)
        w.setframerate(sample_rate)
        w.writeframes(frames)
    return buf.getvalue()


def _parse_riff_ieee_float(payload: bytes):
    """Minimal RIFF walk for the ONE container stdlib ``wave`` rejects
    that this codec supports: WAVE_FORMAT_IEEE_FLOAT (fmt tag 3).
    Returns (sample_rate, n_channels, bits, data_bytes) or None when the
    payload is not a well-formed fmt-3 WAVE (the caller then reports the
    stdlib parser's original error)."""
    import struct

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    # The RIFF header declares the body size at [4:8]; bound the chunk walk
    # there so bytes appended AFTER the declared body (concatenated files,
    # trailing garbage) can never contribute fmt/data chunks (r15 ADVICE
    # item). A clearly bogus size field — too small to even hold the WAVE
    # form tag — falls back to the buffer end.
    (riff_size,) = struct.unpack("<I", payload[4:8])
    end = min(len(payload), 8 + riff_size) if riff_size >= 4 else len(payload)
    pos, fmt, data = 12, None, None
    while pos + 8 <= end:
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        if pos + 8 + size > end:
            return None  # chunk header promises more bytes than the body has
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt " and fmt is None:
            fmt = body
        elif cid == b"data" and data is None:
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None or len(fmt) < 16:
        return None
    tag, nch, sr, _brate, _balign, bits = struct.unpack("<HHIIHH", fmt[:16])
    if tag != 3 or nch == 0:
        return None
    return sr, nch, bits, data


def decode_wav(payload: bytes) -> "tuple[int, int, object]":
    """REAL audio decode: RIFF/WAVE bytes → (sample_rate, n_channels,
    float64 mono samples, nominally in [-1, 1]).

    Stdlib ``wave`` handles the chunk parsing; PCM widths 1 (unsigned),
    2, 3 (packed 24-bit, r14) and 4 (signed little-endian) decode via
    numpy, and IEEE-float containers (fmt 3, float32/float64 — r15
    widening, scientific audio's interchange format; stdlib ``wave``
    rejects the fmt tag, so a minimal RIFF fallback parser handles it)
    decode as-is — float samples are nominally normalized already and
    pass through unclipped. Multi-channel audio downmixes by mean.
    Anything else raises ``NotImplementedError`` — a genuine codec
    boundary, not a stub — including remaining non-PCM containers
    (ADPCM, a-law, …): ``wave.open``'s ``wave.Error`` is re-raised as
    ``NotImplementedError`` so callers see ONE exception type at the
    codec boundary (r14 ADVICE item) — and so is a truncated/corrupt
    data chunk whose payload is not a whole number of frames (r15 ADVICE
    item; stdlib wave returns the short buffer without complaint)."""
    import io
    import wave

    import numpy as np

    try:
        with wave.open(io.BytesIO(bytes(payload)), "rb") as w:
            sr = w.getframerate()
            nch = w.getnchannels()
            width = w.getsampwidth()
            raw = w.readframes(w.getnframes())
    except wave.Error as e:
        parsed = _parse_riff_ieee_float(bytes(payload))
        if parsed is None:
            raise NotImplementedError(f"unsupported WAV container: {e}") from e
        sr, nch, bits, raw = parsed
        if bits not in (32, 64):
            raise NotImplementedError(
                f"unsupported IEEE-float sample width: {bits} bits"
            ) from e
        width = bits // 8
        if len(raw) % (width * nch) != 0:
            raise NotImplementedError(
                f"corrupt WAV data chunk: {len(raw)} bytes is not a whole "
                f"number of frames (sample width {width} × {nch} channel(s))"
            ) from e
        x = np.frombuffer(raw, dtype="<f4" if width == 4 else "<f8").astype(
            np.float64
        )
        if nch > 1:
            x = x.reshape(-1, nch).mean(axis=1)
        return sr, nch, x
    # Truncated/corrupt data chunks (payload not a whole number of frames)
    # would otherwise escape as raw numpy reshape/frombuffer ValueErrors —
    # normalize them to the one documented boundary exception (r15 ADVICE
    # item) before any numpy call sees the buffer.
    if width > 0 and nch > 0 and len(raw) % (width * nch) != 0:
        raise NotImplementedError(
            f"corrupt WAV data chunk: {len(raw)} bytes is not a whole number "
            f"of frames (sample width {width} × {nch} channel(s))"
        )
    if width == 1:  # unsigned 8-bit PCM centered at 128
        x = (np.frombuffer(raw, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
    elif width == 2:
        x = np.frombuffer(raw, dtype="<i2").astype(np.float64) / 32768.0
    elif width == 3:
        # packed little-endian signed 24-bit (the most common PCM width
        # after 16-bit): widen each 3-byte group into an int32 via a
        # zero-padded 4th byte, then arithmetic-shift to sign-extend
        b = np.frombuffer(raw, dtype=np.uint8).reshape(-1, 3)
        padded = np.zeros((b.shape[0], 4), dtype=np.uint8)
        padded[:, 1:] = b  # value lands in bits 8..31
        x = (padded.view("<i4")[:, 0] >> 8).astype(np.float64) / 8388608.0
    elif width == 4:
        x = np.frombuffer(raw, dtype="<i4").astype(np.float64) / 2147483648.0
    else:
        raise NotImplementedError(f"unsupported PCM sample width: {width}")
    if nch > 1:
        x = x.reshape(-1, nch).mean(axis=1)
    return sr, nch, x


def wav_features(payload: bytes, dim: int = 8) -> dict:
    """Decode + featurize one WAV payload: global stats (rms, peak,
    zero-crossing rate) plus a ``dim``-segment RMS envelope — the fixed-
    width feature vector shape downstream similarity search expects."""
    import numpy as np

    sr, nch, x = decode_wav(payload)
    n = int(x.size)
    if n == 0:
        seg = [0.0] * dim
        rms = peak = zcr = 0.0
    else:
        rms = float(np.sqrt(np.mean(x * x)))
        peak = float(np.max(np.abs(x)))
        zcr = float(np.mean(np.signbit(x[1:]) != np.signbit(x[:-1]))) if n > 1 else 0.0
        bounds = np.linspace(0, n, dim + 1).astype(int)
        seg = [
            float(np.sqrt(np.mean(x[a:b] * x[a:b]))) if b > a else 0.0
            for a, b in zip(bounds[:-1], bounds[1:])
        ]
    return {
        "sample_rate": sr,
        "n_channels": nch,
        "n_samples": n,
        "duration_ms": int(round(1000.0 * n / sr)) if sr else 0,
        "rms": rms,
        "peak": peak,
        "zero_crossing_rate": zcr,
        "feature": [float(v) for v in seg],
    }


def extract_wav_features(media: DataFrame, dim: int = 8) -> DataFrame:
    """REAL-codec featurize over the standard media plumbing: audio rows
    decode through :func:`decode_wav` inside the same Arrow-batched
    ``mapInPandas`` shape as :func:`extract_features`; non-audio rows are
    filtered JVM-side so blob bytes for other modalities never cross the
    Python boundary at all."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if pdf.empty:
                continue
            rows = {k.name: [] for k in WAV_FEATURE_SCHEMA.fields}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                feats = wav_features(payload, dim)
                rows["media_id"].append(mid)
                for k, v in feats.items():
                    rows[k].append(v)
            yield pd.DataFrame(rows)

    return media.filter(F.col("media_type") == "audio").select(
        "media_id", "payload"
    ).mapInPandas(batches, WAV_FEATURE_SCHEMA)


IMAGE_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mean_r", T.DoubleType()),
        T.StructField("mean_g", T.DoubleType()),
        T.StructField("mean_b", T.DoubleType()),
        T.StructField("brightness", T.DoubleType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)


def encode_bmp(pixels) -> bytes:
    """Encode an H×W×3 RGB uint8 array as uncompressed 24-bit BI_RGB BMP
    bytes (pure struct packing, bottom-up rows padded to 4 bytes) — the
    test-side twin of :func:`decode_bmp`; real RIFF-class container bytes
    with zero codec deps."""
    import struct

    import numpy as np

    arr = np.asarray(pixels, dtype=np.uint8)
    h, w, c = arr.shape
    assert c == 3, "RGB expected"
    row_bytes = w * 3
    pad = (-row_bytes) % 4
    # pixel rows bottom-up, channels as BGR (the BMP on-disk order)
    body = b"".join(
        arr[y, :, ::-1].tobytes() + b"\x00" * pad for y in range(h - 1, -1, -1)
    )
    pixel_offset = 14 + 40
    file_header = struct.pack(
        "<2sIHHI", b"BM", pixel_offset + len(body), 0, 0, pixel_offset
    )
    info_header = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0
    )
    return file_header + info_header + body


def decode_bmp(payload: bytes) -> "tuple[int, int, object]":
    """REAL image decode: BMP bytes → (width, height, H×W×3 uint8 RGB).

    Parses the BITMAPFILEHEADER + BITMAPINFOHEADER with struct and reads
    uncompressed 24-bit BI_RGB pixel rows (bottom-up or top-down, 4-byte
    row padding) via numpy. Other bit depths / compressions raise
    ``NotImplementedError`` — a genuine codec boundary, not a stub."""
    import struct

    import numpy as np

    buf = bytes(payload)
    if buf[:2] != b"BM":
        raise NotImplementedError("not a BMP payload (missing 'BM' magic)")
    pixel_offset = struct.unpack_from("<I", buf, 10)[0]
    header_size = struct.unpack_from("<I", buf, 14)[0]
    if header_size < 40:
        raise NotImplementedError(f"unsupported BMP header size {header_size}")
    w, h_signed, _planes, depth, compression = struct.unpack_from(
        "<iiHHI", buf, 18
    )
    if depth != 24 or compression != 0:
        raise NotImplementedError(
            f"only uncompressed 24-bit BMP supported (depth={depth}, "
            f"compression={compression})"
        )
    h = abs(h_signed)
    row_bytes = w * 3
    stride = row_bytes + ((-row_bytes) % 4)
    rows = []
    for y in range(h):
        off = pixel_offset + y * stride
        row = np.frombuffer(buf, dtype=np.uint8, count=row_bytes, offset=off)
        rows.append(row.reshape(w, 3)[:, ::-1])  # BGR -> RGB
    img = np.stack(rows)
    if h_signed > 0:  # bottom-up storage: first stored row is the BOTTOM
        img = img[::-1]
    return w, h, img


def _image_features(w: int, h: int, img, grid: int) -> dict:
    """Featurize one decoded H×W×3 RGB image: per-channel means, Rec. 601
    luma brightness, and a ``grid×grid`` mean-luminance tile vector — the
    fixed-width feature shape downstream similarity search expects.
    Codec-independent: shared by the BMP and PNG paths so both queries
    exercise identical feature math (r16 factoring)."""
    import numpy as np

    f = img.astype(np.float64)
    luma = 0.299 * f[:, :, 0] + 0.587 * f[:, :, 1] + 0.114 * f[:, :, 2]
    ys = np.linspace(0, h, grid + 1).astype(int)
    xs = np.linspace(0, w, grid + 1).astype(int)
    tiles = [
        float(luma[a:b, c:d].mean()) if b > a and d > c else 0.0
        for a, b in zip(ys[:-1], ys[1:])
        for c, d in zip(xs[:-1], xs[1:])
    ]
    return {
        "width": w,
        "height": h,
        "mean_r": float(f[:, :, 0].mean()),
        "mean_g": float(f[:, :, 1].mean()),
        "mean_b": float(f[:, :, 2].mean()),
        "brightness": float(luma.mean()),
        "feature": [float(v) for v in tiles],
    }


def bmp_features(payload: bytes, grid: int = 2) -> dict:
    """Decode + featurize one BMP payload (see :func:`_image_features`)."""
    w, h, img = decode_bmp(payload)
    return _image_features(w, h, img, grid)


def _extract_image_features(media: DataFrame, featurize, grid: int) -> DataFrame:
    """Shared Arrow-batched ``mapInPandas`` plumbing for the real image
    codecs: image rows decode inside the batch iterator, non-image blobs
    never cross into Python."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if pdf.empty:
                continue
            rows = {k.name: [] for k in IMAGE_FEATURE_SCHEMA.fields}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                feats = featurize(payload, grid)
                rows["media_id"].append(mid)
                for k, v in feats.items():
                    rows[k].append(v)
            yield pd.DataFrame(rows)

    return media.filter(F.col("media_type") == "image").select(
        "media_id", "payload"
    ).mapInPandas(batches, IMAGE_FEATURE_SCHEMA)


def extract_bmp_features(media: DataFrame, grid: int = 2) -> DataFrame:
    """REAL-codec image featurize over the standard media plumbing
    (the image twin of :func:`extract_wav_features`): image rows decode
    through :func:`decode_bmp` inside the same Arrow-batched
    ``mapInPandas`` shape; non-image blobs never cross into Python."""
    return _extract_image_features(media, bmp_features, grid)


def _paeth(a: int, b: int, c: int) -> int:
    """PNG Paeth predictor (RFC 2083 §6.6): pick the neighbor — left,
    above, upper-left — closest to the linear gradient a + b - c."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def encode_png(pixels, filters=None) -> bytes:
    """Encode an H×W×3 RGB uint8 array as REAL 8-bit truecolor PNG bytes
    (pure stdlib ``struct`` + ``zlib`` — signature, IHDR, one IDAT with
    CRC-checked chunks, IEND; no codec deps). ``filters`` optionally
    gives each row's PNG filter type 0-4; the default cycles ``row % 5``
    so None/Sub/Up/Average/Paeth are ALL exercised by every round-trip
    through :func:`decode_png` — the test-side twin, same relationship as
    :func:`encode_bmp`/:func:`decode_bmp`."""
    import struct
    import zlib

    import numpy as np

    arr = np.asarray(pixels, dtype=np.uint8)
    h, w, c = arr.shape
    assert c == 3, "RGB expected"
    bpp = 3
    if filters is None:
        filters = [y % 5 for y in range(h)]
    raw = arr.reshape(h, w * bpp).astype(np.int16)
    prior = np.zeros(w * bpp, dtype=np.int16)
    zero = np.zeros(bpp, dtype=np.int16)
    out = bytearray()
    for y in range(h):
        row = raw[y]
        ft = int(filters[y])
        left = np.concatenate([zero, row[:-bpp]]) if w > 0 else row
        ul = np.concatenate([zero, prior[:-bpp]]) if w > 0 else prior
        if ft == 0:
            enc = row
        elif ft == 1:
            enc = row - left
        elif ft == 2:
            enc = row - prior
        elif ft == 3:
            enc = row - (left + prior) // 2
        elif ft == 4:
            pred = np.fromiter(
                (_paeth(int(a), int(b), int(cc)) for a, b, cc in zip(left, prior, ul)),
                dtype=np.int16,
                count=len(row),
            )
            enc = row - pred
        else:
            raise NotImplementedError(f"encode_png filter type {ft}")
        out.append(ft)
        out += (enc % 256).astype(np.uint8).tobytes()
        prior = row

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(out), 6))
        + chunk(b"IEND", b"")
    )


def decode_png(payload: bytes) -> "tuple[int, int, object]":
    """REAL image decode: PNG bytes → (width, height, H×W×3 uint8 RGB).

    Pure stdlib: walks the CRC-verified chunk stream (struct + zlib.crc32),
    inflates the concatenated IDAT data, and reconstructs all five PNG
    scanline filters (None/Sub/Up/Average/Paeth, RFC 2083 §6). Supported
    surface is 8-bit truecolor non-interlaced (bit depth 8, color type 2)
    — palette, alpha, 16-bit, and Adam7 raise ``NotImplementedError``, a
    genuine codec boundary, not a stub; so do a missing signature, a CRC
    mismatch, a chunk promising more bytes than exist, a corrupt deflate
    stream, and a filtered-size mismatch (ONE exception type at the codec
    boundary, the decode_wav discipline). The walk stops at IEND — the
    spec's end-of-datastream — so trailing bytes never contribute chunks
    (the RIFF-bound discipline from the r15 ADVICE item). Reference: the
    reference repo has no media path at all; this widens SURVEY §2.2's
    multimodal tier with the first COMPRESSED image container."""
    import struct
    import zlib

    import numpy as np

    buf = bytes(payload)
    if buf[:8] != b"\x89PNG\r\n\x1a\n":
        raise NotImplementedError("not a PNG payload (missing signature)")
    pos = 8
    ihdr = None
    idat = bytearray()
    ended = False
    while pos + 8 <= len(buf):
        (ln,) = struct.unpack(">I", buf[pos : pos + 4])
        ctype = buf[pos + 4 : pos + 8]
        if pos + 12 + ln > len(buf):
            raise NotImplementedError(
                f"corrupt PNG: {ctype!r} chunk promises more bytes than exist"
            )
        data = buf[pos + 8 : pos + 8 + ln]
        (crc,) = struct.unpack(">I", buf[pos + 8 + ln : pos + 12 + ln])
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise NotImplementedError(f"corrupt PNG: CRC mismatch in {ctype!r}")
        if ctype == b"IHDR" and ihdr is None:
            ihdr = data
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            ended = True
            break
        pos += 12 + ln
    if ihdr is None or not ended or not idat:
        raise NotImplementedError("corrupt PNG: missing IHDR/IDAT/IEND")
    if len(ihdr) != 13:
        raise NotImplementedError(f"corrupt PNG: IHDR length {len(ihdr)}")
    w, h, depth, color_type, comp, filt, interlace = struct.unpack(
        ">IIBBBBB", ihdr
    )
    if (depth, color_type, comp, filt, interlace) != (8, 2, 0, 0, 0):
        raise NotImplementedError(
            f"only 8-bit truecolor non-interlaced PNG supported (depth="
            f"{depth}, color_type={color_type}, interlace={interlace})"
        )
    if w == 0 or h == 0:
        # the PNG spec requires nonzero dimensions; a 0×N image would
        # otherwise flow NaN means into the feature path downstream
        raise NotImplementedError(f"corrupt PNG: zero dimension {w}x{h}")
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as e:
        raise NotImplementedError(f"corrupt PNG IDAT stream: {e}") from e
    bpp = 3
    stride = 1 + w * bpp
    if len(raw) != h * stride:
        raise NotImplementedError(
            f"corrupt PNG: filtered size {len(raw)} != {h}x{stride} "
            f"({h} rows of 1 filter byte + {w * bpp} pixel bytes)"
        )
    prev = bytearray(w * bpp)
    rows = []
    for y in range(h):
        ft = raw[y * stride]
        line = bytearray(raw[y * stride + 1 : (y + 1) * stride])
        n = len(line)
        if ft == 0:
            pass
        elif ft == 1:  # Sub
            for i in range(bpp, n):
                line[i] = (line[i] + line[i - bpp]) & 0xFF
        elif ft == 2:  # Up
            for i in range(n):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ft == 3:  # Average
            for i in range(n):
                left = line[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + (left + prev[i]) // 2) & 0xFF
        elif ft == 4:  # Paeth
            for i in range(n):
                a = line[i - bpp] if i >= bpp else 0
                c = prev[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + _paeth(a, prev[i], c)) & 0xFF
        else:
            raise NotImplementedError(f"unsupported PNG filter type {ft}")
        rows.append(bytes(line))
        prev = line
    img = np.frombuffer(b"".join(rows), dtype=np.uint8).reshape(h, w, bpp)
    return w, h, img


def png_features(payload: bytes, grid: int = 2) -> dict:
    """Decode + featurize one PNG payload (see :func:`_image_features`)."""
    w, h, img = decode_png(payload)
    return _image_features(w, h, img, grid)


def extract_png_features(media: DataFrame, grid: int = 2) -> DataFrame:
    """REAL-codec PNG featurize over the standard media plumbing — the
    compressed-container sibling of :func:`extract_bmp_features`, same
    Arrow-batched ``mapInPandas`` shape and feature schema."""
    return _extract_image_features(media, png_features, grid)


def _lzw_compress(indices, mcs: int) -> bytes:
    """GIF-variant LZW compress a sequence of palette indices at minimum
    code size ``mcs``: variable-width codes (mcs+1 .. 12 bits), LSB-first
    bit packing, a leading clear code, dictionary reset on overflow, and
    the end-of-information code — a REAL compressor (greedy longest-match
    dictionary), so round-trips exercise compound codes and the KwKwK
    first-use edge, not just literals."""
    clear = 1 << mcs
    end = clear + 1
    table = {(i,): i for i in range(clear)}
    next_code = end + 1
    width = mcs + 1

    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    emit(clear)
    w: tuple = ()
    for k in indices:
        wk = w + (int(k),)
        if wk in table:
            w = wk
            continue
        emit(table[w])
        table[wk] = next_code
        next_code += 1
        if next_code == (1 << width) + 1 and width < 12:
            width += 1
        if next_code > 4096:
            emit(clear)
            table = {(i,): i for i in range(clear)}
            next_code = end + 1
            width = mcs + 1
        w = (int(k),)
    if w:
        emit(table[w])
    emit(end)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _lzw_decompress(data: bytes, mcs: int, n_expected: int) -> bytes:
    """GIF-variant LZW decompress (the inverse of :func:`_lzw_compress`,
    and of every spec-conforming GIF writer): LSB-first variable-width
    codes, clear/end handling, the KwKwK (code == next unassigned entry)
    reconstruction, and width growth mirroring the encoder's schedule.
    Stops after ``n_expected`` indices; a code outside the live table or
    a stream ending early is reported to the caller via ValueError (the
    caller owns the codec-boundary exception)."""
    clear = 1 << mcs
    end = clear + 1

    pos = 0  # bit cursor
    total_bits = len(data) * 8

    def read(width: int) -> int:
        nonlocal pos
        if pos + width > total_bits:
            raise ValueError("LZW stream ended mid-code")
        v = 0
        for b in range(width):
            byte = data[(pos + b) >> 3]
            v |= ((byte >> ((pos + b) & 7)) & 1) << b
        pos += width
        return v

    table: list = [bytes([i]) for i in range(clear)] + [b"", b""]
    width = mcs + 1
    out = bytearray()
    prev = None
    while len(out) < n_expected:
        code = read(width)
        if code == clear:
            table = [bytes([i]) for i in range(clear)] + [b"", b""]
            width = mcs + 1
            prev = None
            continue
        if code == end:
            raise ValueError(
                f"LZW end code after {len(out)} of {n_expected} indices"
            )
        if code < len(table):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]  # the KwKwK first-use edge
        else:
            raise ValueError(f"LZW code {code} outside live table")
        out += entry
        if prev is not None:
            table.append(prev + entry[:1])
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = entry
    return bytes(out[:n_expected])


def encode_gif(pixels) -> bytes:
    """Encode an H×W×3 RGB uint8 array as REAL GIF89a bytes (pure
    struct packing + the :func:`_lzw_compress` LZW stream; no codec
    deps): header, logical screen descriptor, a global color table built
    from the image's distinct colors (≤256 required), one image
    descriptor, LZW sub-blocks, trailer. The test-side twin of
    :func:`decode_gif`."""
    import struct

    import numpy as np

    arr = np.asarray(pixels, dtype=np.uint8)
    h, w, c = arr.shape
    assert c == 3, "RGB expected"
    flat = arr.reshape(-1, 3)
    palette, indices = np.unique(flat, axis=0, return_inverse=True)
    n_colors = len(palette)
    if n_colors > 256:
        # a bare assert would vanish under python -O and mint a corrupt
        # GCT-size field (3 bits) -- this is a genuine codec boundary
        raise NotImplementedError(
            f"GIF palette is at most 256 colors (image has {n_colors})"
        )
    size_bits = max(1, (int(n_colors) - 1).bit_length())  # table = 2^size_bits
    table_n = 1 << size_bits
    mcs = max(2, size_bits)  # spec: LZW minimum code size >= 2

    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | (size_bits - 1), 0, 0)
    out += palette.tobytes() + b"\x00\x00\x00" * (table_n - n_colors)
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
    out.append(mcs)
    lzw = _lzw_compress(indices.tolist(), mcs)
    for i in range(0, len(lzw), 255):
        block = lzw[i : i + 255]
        out.append(len(block))
        out += block
    out += b"\x00\x3b"
    return bytes(out)


def decode_gif(payload: bytes) -> "tuple[int, int, object]":
    """REAL image decode: GIF bytes → (width, height, H×W×3 uint8 RGB).

    Pure stdlib: parses the GIF87a/GIF89a header, logical screen
    descriptor and global color table, skips extension blocks, and
    LZW-decompresses the FIRST image descriptor's data (first frame
    wins, the duplicate-chunk precedent; the walk stops there, so
    animation frames and trailing bytes never contribute). Supported
    surface is non-interlaced frames drawing from the global color
    table; interlaced frames, local color tables, a missing global
    table, truncated streams, and corrupt LZW codes all raise
    ``NotImplementedError`` — ONE exception type at the codec boundary
    (the decode_wav discipline). The LZW path is pinned against a
    canonical third-party GIF in tests, not just this repo's encoder.
    Reference: the reference repo has no media path at all; this widens
    SURVEY §2.2's multimodal tier with the palette-indexed container
    class alongside PNG (zlib) and BMP (uncompressed)."""
    import struct

    import numpy as np

    buf = bytes(payload)
    if buf[:6] not in (b"GIF87a", b"GIF89a"):
        raise NotImplementedError("not a GIF payload (missing GIF87a/89a)")
    if len(buf) < 13:
        raise NotImplementedError("corrupt GIF: truncated screen descriptor")
    _sw, _sh, packed, _bg, _par = struct.unpack("<HHBBB", buf[6:13])
    if not packed & 0x80:
        raise NotImplementedError("GIF without a global color table")
    table_n = 2 << (packed & 0x07)
    pos = 13
    if pos + 3 * table_n > len(buf):
        raise NotImplementedError("corrupt GIF: truncated global color table")
    palette = np.frombuffer(buf, np.uint8, 3 * table_n, pos).reshape(-1, 3)
    pos += 3 * table_n

    def skip_subblocks(p: int) -> int:
        while True:
            if p >= len(buf):
                raise NotImplementedError("corrupt GIF: unterminated sub-blocks")
            n = buf[p]
            p += 1 + n
            if n == 0:
                return p

    while True:
        if pos >= len(buf):
            raise NotImplementedError("corrupt GIF: missing image descriptor")
        block = buf[pos]
        if block == 0x3B:  # trailer before any image
            raise NotImplementedError("corrupt GIF: no image descriptor")
        if block == 0x21:  # extension: label byte, then sub-blocks
            if pos + 2 > len(buf):
                raise NotImplementedError("corrupt GIF: truncated extension")
            pos = skip_subblocks(pos + 2)
            continue
        if block == 0x2C:
            break
        raise NotImplementedError(f"corrupt GIF: unknown block 0x{block:02x}")
    if pos + 10 > len(buf):
        raise NotImplementedError("corrupt GIF: truncated image descriptor")
    _left, _top, w, h, ipacked = struct.unpack("<HHHHB", buf[pos + 1 : pos + 10])
    pos += 10
    if ipacked & 0x80:
        raise NotImplementedError("GIF local color tables not supported")
    if ipacked & 0x40:
        raise NotImplementedError("interlaced GIF not supported")
    if w == 0 or h == 0:
        raise NotImplementedError(f"corrupt GIF: zero dimension {w}x{h}")
    if pos >= len(buf):
        raise NotImplementedError("corrupt GIF: missing LZW minimum code size")
    mcs = buf[pos]
    pos += 1
    if not 2 <= mcs <= 8:
        # spec caps the root table at 256 entries (mcs 8); 9-11 would also
        # overflow the bytes-based literal table in _lzw_decompress
        raise NotImplementedError(f"corrupt GIF: LZW minimum code size {mcs}")
    lzw = bytearray()
    while True:
        if pos >= len(buf):
            raise NotImplementedError("corrupt GIF: unterminated image data")
        n = buf[pos]
        pos += 1
        if n == 0:
            break
        if pos + n > len(buf):
            raise NotImplementedError("corrupt GIF: truncated image sub-block")
        lzw += buf[pos : pos + n]
        pos += n
    try:
        idx = _lzw_decompress(bytes(lzw), mcs, w * h)
    except ValueError as e:
        raise NotImplementedError(f"corrupt GIF LZW stream: {e}") from e
    indices = np.frombuffer(idx, dtype=np.uint8)
    if int(indices.max(initial=0)) >= table_n:
        raise NotImplementedError(
            f"corrupt GIF: palette index {int(indices.max())} >= {table_n}"
        )
    img = palette[indices].reshape(h, w, 3)
    return w, h, img


def gif_features(payload: bytes, grid: int = 2) -> dict:
    """Decode + featurize one GIF payload (see :func:`_image_features`)."""
    w, h, img = decode_gif(payload)
    return _image_features(w, h, img, grid)


def extract_gif_features(media: DataFrame, grid: int = 2) -> DataFrame:
    """REAL-codec GIF featurize over the standard media plumbing — the
    palette-indexed sibling of :func:`extract_bmp_features` and
    :func:`extract_png_features`, same Arrow-batched ``mapInPandas``
    shape and feature schema."""
    return _extract_image_features(media, gif_features, grid)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)


def frame_sample(media: DataFrame, n_frames: int = 4) -> DataFrame:
    """Video frame sampling: one video row → ``n_frames`` feature rows —
    the cardinality-CHANGING Python stage (vs extract_features' 1:1 map).
    ``mapInPandas`` lets a batch emit any number of output rows, which is
    exactly the frame-explosion shape; Arrow carries bytes in and small
    feature rows out, so the blob never round-trips more than once.
    Decode stubbed (``_decode_payload``); production swaps in pyav keyframe
    extraction with the SAME schema and batch iteration."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            vids = pdf[pdf["media_type"] == "video"]
            out: dict[str, list] = {"media_id": [], "frame_idx": [], "feature": []}
            for mid, payload in zip(vids["media_id"], vids["payload"]):
                for f in range(n_frames):
                    out["media_id"].append(mid)
                    out["frame_idx"].append(f)
                    out["feature"].append(
                        _decode_payload(bytes(payload) + bytes([f]), "video", 8)
                    )
            # empty pandas frames infer float64 columns, which Arrow can't
            # coerce to list<float> — emit nothing for video-free batches
            if out["media_id"]:
                yield pd.DataFrame(out)

    return media.mapInPandas(batches, FRAME_SCHEMA)


def media_checksums(media: DataFrame) -> DataFrame:
    """Engine-portable fixity checksums over the opaque binary payloads —
    the integrity-audit pass every media lake runs after ingest/copy.

    Hashes the HEX encoding of the payload (``sha2(hex(payload))``) rather
    than the raw bytes: every SQL engine hashes strings identically, while
    blob-hash support varies (DuckDB's sha256 is VARCHAR-only) — so the
    checksum column is verifiable by any engine reading the same parquet.
    Pure JVM expression tree (no Python on this path, unlike the decode
    stubs); payload bytes stream through the hash without ever reaching
    the driver, and metadata-only readers still prune the blob column.
    """
    return media.select(
        F.col("media_id"),
        F.col("media_type"),
        F.length(F.col("payload")).cast("long").alias("payload_bytes"),
        F.sha2(F.hex(F.col("payload")), 256).alias("payload_hex_sha256"),
    )
