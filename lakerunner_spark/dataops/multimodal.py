"""Multimodal columns: opaque binary payloads + typed metadata.

Training-data pipelines carry images/audio/video as ``binary`` columns
with structured metadata. The engine treats the payload as opaque bytes
end-to-end (Parquet binary columns, no materialization on the driver)
and runs decode / feature-extract / patch / frame-hash as
Arrow-batched ``mapInPandas`` stages.

The codec libraries (Pillow/ffmpeg/...) are NOT in this environment, so
the decode step is stubbed: ``decode_image`` raises NotImplementedError
unless a decoder is injected. Everything around it — schema, batch
iteration, partition-parallel UDF plumbing, metadata handling — is real
and tested with a deterministic fake decoder.

Scale notes: payload bytes never shuffle unless the transform needs
them (select the metadata columns for routing/filtering first);
``spark.sql.files.maxPartitionBytes`` bounds per-task payload volume;
feature outputs are small fixed-width vectors so downstream joins and
ANN run on compact relations.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),  # image|audio|video
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
        T.StructField("payload", T.BinaryType(), True),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("features", T.ArrayType(T.DoubleType()), True),
    ]
)

# payload bytes -> fixed-width feature vector
ImageDecoder = Callable[[bytes], list[float]]


PNG_SIGNATURE = b"\x89PNG\r\n\x1a\n"


def _png_chunk(tag: bytes, body: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def encode_png(width: int, height: int, rgb: bytes) -> bytes:
    """Minimal stdlib PNG encoder: 8-bit RGB, filter 0, no interlace.

    ``rgb`` is row-major RGBRGB... (3*width*height bytes). Used to
    synthesize deterministic test/benchmark images; also a legitimate
    sink codec (zlib + struct only — runs in any executor)."""
    import struct
    import zlib

    if len(rgb) != 3 * width * height:
        raise ValueError("encode_png: rgb length must be 3*width*height")
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    stride = 3 * width
    raw = b"".join(
        b"\x00" + rgb[y * stride : (y + 1) * stride] for y in range(height)
    )
    return (
        PNG_SIGNATURE
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )


def decode_png(payload: bytes) -> tuple[int, int, int, bytes]:
    """Pure-stdlib PNG decoder (zlib + struct): returns
    ``(width, height, channels, samples)`` with samples row-major.

    Supports 8-bit greyscale (color type 0), RGB (2), and RGBA (6),
    non-interlaced, with all five scanline filters (None/Sub/Up/
    Average/Paeth). That covers every PNG this engine or common ML
    pipelines emit; palette/16-bit/interlaced images raise."""
    import struct
    import zlib

    if payload[:8] != PNG_SIGNATURE:
        raise ValueError("decode_png: not a PNG payload")
    pos = 8
    width = height = None
    channels = 0
    idat = bytearray()
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        tag = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + tag + body + crc
        if tag == b"IHDR":
            width, height, depth, ctype, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            if depth != 8 or interlace != 0 or ctype not in (0, 2, 6):
                raise NotImplementedError(
                    "decode_png: only 8-bit non-interlaced gray/RGB/RGBA"
                )
            channels = {0: 1, 2: 3, 6: 4}[ctype]
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
    if width is None:
        raise ValueError("decode_png: missing IHDR")
    raw = zlib.decompress(bytes(idat))
    stride = channels * width
    out = bytearray(stride * height)
    prev = bytearray(stride)
    for y in range(height):
        ftype = raw[y * (stride + 1)]
        line = bytearray(raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)])
        if ftype == 1:  # Sub
            for i in range(channels, stride):
                line[i] = (line[i] + line[i - channels]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                left = line[i - channels] if i >= channels else 0
                line[i] = (line[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                a = line[i - channels] if i >= channels else 0
                b = prev[i]
                c = prev[i - channels] if i >= channels else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[i] = (line[i] + pred) & 0xFF
        elif ftype != 0:
            raise ValueError(f"decode_png: bad filter type {ftype}")
        out[y * stride : (y + 1) * stride] = line
        prev = line
    return width, height, channels, bytes(out)


def png_features(payload: bytes) -> list[float]:
    """PNG payload -> 8-dim feature vector:
    [width, height, mean_r, mean_g, mean_b, mean_gray, min_gray,
    max_gray] (gray = (r+g+b)/3 per pixel; greyscale images use the
    single channel for all three means)."""
    return _pixel_features(*decode_png(payload))


def _pixel_features(
    w: int, h: int, ch: int, samples: bytes
) -> list[float]:
    n = w * h
    if ch == 1:
        grays = [float(v) for v in samples]
        mr = mg = mb = sum(grays) / n
    else:
        # channel slices: stride ch starting at offset 0/1/2 (alpha,
        # when present at offset 3, is simply never sliced)
        rs = samples[0::ch]
        gs = samples[1::ch]
        bs = samples[2::ch]
        mr = sum(rs) / n
        mg = sum(gs) / n
        mb = sum(bs) / n
        grays = [(r + g + b) / 3.0 for r, g, b in zip(rs, gs, bs)]
    return [
        float(w),
        float(h),
        mr,
        mg,
        mb,
        sum(grays) / n,
        min(grays),
        max(grays),
    ]


# ------------------------------ BMP ----------------------------------------


def encode_bmp(width: int, height: int, rgb: bytes) -> bytes:
    """Minimal stdlib BMP encoder: 24-bit BI_RGB, bottom-up rows.

    ``rgb`` is row-major top-down RGBRGB... (3*width*height bytes);
    rows are written bottom-up in BGR with 4-byte padding, per the
    format. struct only — runs in any executor."""
    import struct

    if len(rgb) != 3 * width * height:
        raise ValueError("encode_bmp: rgb length must be 3*width*height")
    stride = (3 * width + 3) & ~3
    body = bytearray()
    for y in range(height - 1, -1, -1):
        row = rgb[3 * width * y : 3 * width * (y + 1)]
        for x in range(width):
            r, g, b = row[3 * x : 3 * x + 3]
            body += bytes((b, g, r))
        body += b"\x00" * (stride - 3 * width)
    header = struct.pack(
        "<2sIHHI", b"BM", 14 + 40 + len(body), 0, 0, 14 + 40
    ) + struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(body), 2835, 2835, 0, 0
    )
    return header + bytes(body)


def decode_bmp(payload: bytes) -> tuple[int, int, int, bytes]:
    """Pure-stdlib BMP decoder (struct): ``(width, height, channels,
    samples)`` with samples row-major TOP-DOWN and channels in RGB(A)
    order — the same tuple contract as :func:`decode_png`.

    Supports uncompressed (BI_RGB) 24-bit and 32-bit DIBs with the
     40-byte BITMAPINFOHEADER (or larger headers with the same prefix);
    bottom-up (positive height) and top-down (negative) both decode.
    Palette/16-bit/RLE raise."""
    import struct

    if payload[:2] != b"BM":
        raise ValueError("decode_bmp: not a BMP payload")
    if len(payload) < 54:
        raise ValueError("decode_bmp: truncated header")
    (data_off,) = struct.unpack_from("<I", payload, 10)
    (hdr_size,) = struct.unpack_from("<I", payload, 14)
    if hdr_size < 40:
        raise NotImplementedError("decode_bmp: pre-BITMAPINFOHEADER DIBs")
    width, height, _planes, bpp, compression = struct.unpack_from(
        "<iiHHI", payload, 18
    )
    if compression != 0:
        raise NotImplementedError("decode_bmp: compressed BMPs")
    if bpp not in (24, 32):
        raise NotImplementedError("decode_bmp: 24/32-bit BI_RGB only")
    top_down = height < 0
    height = abs(height)
    ch = bpp // 8
    out_ch = 3 if bpp == 24 else 4
    stride = (ch * width + 3) & ~3
    need = data_off + stride * height
    if len(payload) < need:
        raise ValueError(
            f"decode_bmp: truncated pixel data "
            f"(needs {need} bytes, has {len(payload)})"
        )
    # one numpy view + fancy-index swizzle, not a per-pixel Python
    # loop: the loop form cost ~5ms per 1k-pixel image and dominated
    # every BMP-fed pipeline's decode seam (r13 #5 — 12k-image corpus:
    # the seam was 11.7s of ddm1's 10.5s wall). Output bytes are
    # identical: same rows, same BGR(A)->RGB(A) order.
    import numpy as np

    buf = np.frombuffer(
        payload, dtype=np.uint8, count=stride * height, offset=data_off
    )
    grid = buf.reshape(height, stride)[:, : ch * width].reshape(
        height, width, ch
    )
    if not top_down:
        grid = grid[::-1]
    swizzle = [2, 1, 0] if out_ch == 3 else [2, 1, 0, 3]
    return width, height, out_ch, grid[..., swizzle].tobytes()


def bmp_features(payload: bytes) -> list[float]:
    """BMP payload -> the same 8-dim pixel-stats vector as
    :func:`png_features`."""
    return _pixel_features(*decode_bmp(payload))


# ------------------------------ WAV (audio) --------------------------------


def encode_wav(sample_rate: int, samples: list[int]) -> bytes:
    """Minimal stdlib WAV encoder: 16-bit PCM mono RIFF/WAVE.

    Synthesizes deterministic test/benchmark audio; also a legitimate
    sink codec (struct only)."""
    import struct

    data = struct.pack(f"<{len(samples)}h", *samples)
    byte_rate = sample_rate * 2
    return (
        b"RIFF"
        + struct.pack("<I", 36 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, sample_rate, byte_rate, 2, 16)
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )


def decode_wav(payload: bytes) -> tuple[int, int, list[int]]:
    """Pure-stdlib WAV decoder (struct): ``(sample_rate, channels,
    samples)`` with samples interleaved. 16-bit PCM only (format tag 1);
    compressed/float WAVs raise."""
    import struct

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("decode_wav: not a RIFF/WAVE payload")
    pos = 12
    rate = channels = bits = None
    samples: list[int] = []
    while pos + 8 <= len(payload):
        tag = payload[pos : pos + 4]
        (length,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + length]
        if len(body) < length:
            # a chunk whose declared length overruns the payload is a
            # cut-off upload; decoding the prefix would silently yield
            # wrong duration/rms/zcr features (same contract as
            # protowire's truncated-LEN-field raise)
            raise ValueError(
                f"decode_wav: truncated {tag!r} chunk "
                f"(declares {length} bytes, {len(body)} remain)"
            )
        pos += 8 + length + (length & 1)  # chunks are word-aligned
        if tag == b"fmt ":
            if len(body) < 16:
                raise ValueError("decode_wav: short fmt chunk")
            fmt, channels, rate, _br, _ba, bits = struct.unpack(
                "<HHIIHH", body[:16]
            )
            if fmt != 1 or bits != 16:
                raise NotImplementedError("decode_wav: 16-bit PCM only")
        elif tag == b"data":
            if length & 1:
                raise ValueError("decode_wav: odd 16-bit PCM data length")
            samples = list(struct.unpack(f"<{length // 2}h", body))
    if rate is None:
        raise ValueError("decode_wav: missing fmt chunk")
    return rate, channels or 1, samples


def wav_features(payload: bytes) -> list[float]:
    """WAV payload -> 5-dim feature vector:
    [duration_ms, sample_rate, rms, peak_abs, zero_crossing_rate]
    (zcr = fraction of adjacent sample pairs whose (s < 0) sign
    differs — the standard voiced/unvoiced + noisiness signal)."""
    import math

    rate, channels, samples = decode_wav(payload)
    n_frames = len(samples) // channels
    if n_frames == 0:
        return [0.0, float(rate), 0.0, 0.0, 0.0]
    rms = math.sqrt(sum(float(s) * s for s in samples) / len(samples))
    peak = float(max(abs(s) for s in samples))
    flips = sum(
        1
        for a, b in zip(samples, samples[channels:])
        if (a < 0) != (b < 0)
    )
    zcr = flips / (len(samples) - channels) if len(samples) > channels else 0.0
    return [
        1000.0 * n_frames / rate,
        float(rate),
        rms,
        peak,
        zcr,
    ]


def decode_image(payload: bytes) -> list[float]:
    """Decode a media payload to a feature vector.

    PNG (stdlib zlib+struct, :func:`decode_png`) and 16-bit PCM WAV
    (:func:`decode_wav`) decode natively; other formats need a codec
    library (Pillow/ffmpeg/...), absent in this container — inject a
    decoder for tests or provide one at deployment (reference: this is
    the X2-style extension seam).
    """
    if payload[:8] == PNG_SIGNATURE:
        return png_features(payload)
    if payload[:2] == b"BM":
        return bmp_features(payload)
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return wav_features(payload)
    raise NotImplementedError(
        "non-PNG/BMP/WAV decode needs a codec library; inject decoder=... instead"
    )


def extract_features(
    media: DataFrame,
    decoder: ImageDecoder | None = None,
) -> DataFrame:
    """Decode payloads to feature vectors, partition-parallel.

    Payload stays executor-side; each Arrow batch is decoded in place.
    A None decoder uses the (stubbed) real one.
    """
    decode = decoder or decode_image

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                decode(bytes(p)) if p is not None else None
                for p in pdf["payload"]
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": [
                        len(p) if p is not None else None for p in pdf["payload"]
                    ],
                    "features": feats,
                }
            )

    return media.select("media_id", "media_type", "payload").mapInPandas(
        run, schema=FEATURE_SCHEMA
    )


def byte_histogram_features(media: DataFrame, buckets: int = 16) -> DataFrame:
    """Codec-free features that run anywhere: the normalized byte
    histogram of ``payload``, in pure Spark expressions.

    Bucket ``i`` counts the bytes in ``[i*w, i*w + w - 1]`` with
    ``w = 256 // buckets``; feature ``i`` is that count over
    ``length(payload)``. Decoding as ISO-8859-1 maps each byte to the one
    char of the same code point (a total bijection: no input is
    malformed), so a bucket's count is the length of the chars left
    after deleting every run of chars outside its range: one linear
    regex pass per bucket, all codegen'd, no higher-order function.

    Every input column but ``payload`` passes through, followed by
    ``n_bytes`` and ``features``. An empty payload gives ``n_bytes = 0``
    and all features NULL; a NULL payload gives NULLs throughout.
    ``buckets`` must divide 256, so that every byte lands in a bucket.
    """
    if not (1 <= buckets <= 256 and 256 % buckets == 0):
        raise ValueError(f"buckets must divide 256, got {buckets!r}")
    width = 256 // buckets
    n = F.length("payload")  # byte count for binary columns
    chars = F.decode("payload", "ISO-8859-1")

    def count(lo: int) -> Column:
        # one match per run of outside chars, not per char: 1.4x faster
        # at 4 buckets and 2.2x at 16 on random bytes
        outside = f"[^\\x{{{lo:02x}}}-\\x{{{lo + width - 1:02x}}}]+"
        return F.length(F.regexp_replace(chars, outside, ""))

    hist = F.array(*[F.try_divide(count(i * width), n) for i in range(buckets)])
    return media.select(
        *[media[c] for c in media.columns if c != "payload"],
        n.cast("long").alias("n_bytes"),
        hist.alias("features"),
    )



# ------------------------------ AVI (video) --------------------------------


def encode_avi(
    width: int, height: int, frames: list[bytes], fps: int = 10
) -> bytes:
    """Minimal stdlib AVI encoder: RIFF 'AVI ' with one uncompressed
    'vids'/DIB stream; every frame an uncompressed 24-bit '00db' chunk
    written bottom-up BGR with 4-byte row padding (the DIB contract,
    same as :func:`encode_bmp`). Each frame in ``frames`` is row-major
    top-down RGB. struct only — runs in any executor."""
    import struct

    for f in frames:
        if len(f) != 3 * width * height:
            raise ValueError("encode_avi: frame length must be 3*w*h")
    stride = (3 * width + 3) & ~3
    frame_size = stride * height

    def dib(rgb: bytes) -> bytes:
        body = bytearray()
        for y in range(height - 1, -1, -1):
            row = rgb[3 * width * y : 3 * width * (y + 1)]
            for x in range(width):
                r, g, b = row[3 * x : 3 * x + 3]
                body += bytes((b, g, r))
            body += b"\x00" * (stride - 3 * width)
        return bytes(body)

    usec = 1_000_000 // fps
    avih = struct.pack(
        "<14I", usec, frame_size * fps, 0, 0x10, len(frames), 0, 1,
        frame_size, width, height, 0, 0, 0, 0,
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIii4h",
        b"vids", b"DIB ", 0, 0, 0, 0, 1, fps, 0, len(frames),
        frame_size, -1, 0, 0, 0, width, height,
    )
    strf = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, frame_size,
        0, 0, 0, 0,
    )

    def chunk(tag: bytes, body: bytes) -> bytes:
        return tag + struct.pack("<I", len(body)) + body + (
            b"\x00" if len(body) % 2 else b""
        )

    def lst(kind: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", kind + body)

    strl = lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf))
    hdrl = lst(b"hdrl", chunk(b"avih", avih) + strl)
    movi = lst(b"movi", b"".join(chunk(b"00db", dib(f)) for f in frames))
    riff_body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


def avi_info(payload: bytes) -> tuple[int, int, int, int]:
    """Parse the RIFF/hdrl headers only: (width, height, n_frames,
    usec_per_frame). No frame bytes are touched — at 100 TB this is
    the metadata pass that plans frame sampling without reading
    payload-sized data."""
    import struct

    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("avi_info: not a RIFF AVI payload")
    pos, end = 12, len(payload)
    while pos + 8 <= end:
        tag = payload[pos : pos + 4]
        (size,) = struct.unpack_from("<I", payload, pos + 4)
        if tag == b"LIST" and payload[pos + 8 : pos + 12] == b"hdrl":
            hpos = pos + 12
            hend = pos + 8 + size
            while hpos + 8 <= hend:
                htag = payload[hpos : hpos + 4]
                (hsize,) = struct.unpack_from("<I", payload, hpos + 4)
                if htag == b"avih":
                    f = struct.unpack_from("<14I", payload, hpos + 8)
                    return f[8], f[9], f[4], f[0]
                hpos += 8 + hsize + (hsize % 2)
            break
        pos += 8 + size + (size % 2)
    raise ValueError("avi_info: no avih header found")


def decode_avi_frame(payload: bytes, frame_idx: int) -> bytes:
    """Extract ONE frame as top-down RGB bytes: walks the movi chunk
    list counting '00db' entries and slices only the requested frame —
    skipped frames cost 8 header bytes each, never a copy. Raises on
    out-of-range or compressed ('00dc') frames."""
    import struct

    width, height, n_frames, _ = avi_info(payload)
    if not 0 <= frame_idx < n_frames:
        raise ValueError(f"decode_avi_frame: frame {frame_idx} of {n_frames}")
    stride = (3 * width + 3) & ~3
    pos, end = 12, len(payload)
    while pos + 8 <= end:
        tag = payload[pos : pos + 4]
        (size,) = struct.unpack_from("<I", payload, pos + 4)
        if tag == b"LIST" and payload[pos + 8 : pos + 12] == b"movi":
            mpos = pos + 12
            mend = pos + 8 + size
            seen = 0
            while mpos + 8 <= mend:
                mtag = payload[mpos : mpos + 4]
                (msize,) = struct.unpack_from("<I", payload, mpos + 4)
                if mtag == b"00dc":
                    raise NotImplementedError(
                        "decode_avi_frame: compressed frames need a codec"
                    )
                if mtag == b"00db":
                    if seen == frame_idx:
                        body = payload[mpos + 8 : mpos + 8 + msize]
                        # container walk stays stdlib (codec honesty);
                        # the pixel shuffle is pure array reshaping, so
                        # numpy: strip row padding, flip the bottom-up
                        # row order, swap BGR->RGB — no per-pixel Python
                        import numpy as np

                        rows = np.frombuffer(
                            body[: stride * height], dtype=np.uint8
                        ).reshape(height, stride)[:, : 3 * width]
                        rgb = rows.reshape(height, width, 3)[::-1, :, ::-1]
                        return rgb.tobytes()
                    seen += 1
                mpos += 8 + msize + (msize % 2)
            break
        pos += 8 + size + (size % 2)
    raise ValueError("decode_avi_frame: movi list exhausted")


VIDEO_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("mean_r", T.DoubleType(), True),
        T.StructField("mean_g", T.DoubleType(), True),
        T.StructField("mean_b", T.DoubleType(), True),
        T.StructField("mean_gray", T.DoubleType(), True),
    ]
)


def video_frame_stats(
    media: DataFrame,
    stride: int = 2,
    max_frames: int = 16,
) -> DataFrame:
    """Frame-sampled video statistics: for every video payload, decode
    frames 0, stride, 2*stride, ... (at most ``max_frames``) and emit
    per-frame channel means + grayscale mean.

    The metadata pass (avi_info) plans the sample; only sampled frames
    are decoded (decode_avi_frame slices by offset walk). One
    Arrow-batched mapInPandas — payload bytes never shuffle, output is
    rows-per-sampled-frame, proportional to the sample, not the
    video."""

    def run(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        import numpy as np

        for pdf in batches:
            out = []
            for media_id, payload in zip(
                pdf["media_id"].to_numpy(), pdf["payload"]
            ):
                payload = bytes(payload)
                w, h, n, _ = avi_info(payload)
                idxs = list(range(0, n, stride))[:max_frames]
                for i in idxs:
                    rgb = decode_avi_frame(payload, i)
                    # statistics over w*h*3 bytes are numpy reductions
                    # (~100x over per-pixel Python); float64 accumulator
                    # so 8-bit channels can't saturate the sum
                    px = np.frombuffer(rgb, dtype=np.uint8).reshape(-1, 3)
                    means = px.mean(axis=0, dtype=np.float64)
                    gray = float(
                        px.mean(axis=1, dtype=np.float64).mean(
                            dtype=np.float64
                        )
                    )
                    out.append(
                        (
                            int(media_id), i, float(means[0]),
                            float(means[1]), float(means[2]), gray,
                        )
                    )
            yield pd.DataFrame(
                out,
                columns=[
                    "media_id", "frame_idx", "mean_r", "mean_g",
                    "mean_b", "mean_gray",
                ],
            )

    return (
        media.filter(F.col("media_type") == "video")
        .select("media_id", "payload")
        .mapInPandas(run, schema=VIDEO_FRAME_SCHEMA)
    )


AUDIO_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_idx", T.LongType(), False),
        T.StructField("start_ms", T.DoubleType(), False),
        T.StructField("rms", T.DoubleType(), False),
        T.StructField("peak_abs", T.LongType(), False),
        T.StructField("zcr", T.DoubleType(), False),
    ]
)


def audio_frame_features(
    media: DataFrame, frame: int = 64, hop: int = 32
) -> DataFrame:
    """Frame-level audio features (the standard audio-model
    preprocessing shape: a short analysis window slides over the
    waveform and each position emits one feature row) — per frame:
    RMS energy, peak amplitude, zero-crossing rate, and the frame's
    start offset. Mono 16-bit PCM via :func:`decode_wav`.

    Vectorization contract (the mm5 lesson): the CODEC is Python by
    design, but the per-sample math is numpy over the whole (n_frames,
    frame) strided view — one fancy-index gather builds every window
    at once, and the reductions are C loops. Sample values are 16-bit
    integers, so the float64 energy sums are exact integers (< 2^53)
    in ANY summation order — numpy's pairwise sum and an oracle's
    sequential sum agree bit-for-bit.

    Scale: payload bytes never shuffle (mapInPandas over the scan);
    output rows are proportional to frames, i.e. to audio duration,
    and partition-parallel like every other media decode."""
    import numpy as np

    if frame < 2 or hop < 1:
        raise ValueError("audio_frame_features: frame >= 2, hop >= 1")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            cols: dict[str, list] = {
                k: [] for k in (
                    "media_id", "frame_idx", "start_ms",
                    "rms", "peak_abs", "zcr",
                )
            }
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    continue
                rate, channels, samples = decode_wav(bytes(payload))
                if channels != 1:
                    raise NotImplementedError(
                        "audio_frame_features: mono only"
                    )
                v = np.asarray(samples, dtype=np.float64)
                if len(v) < frame:
                    continue
                nf = (len(v) - frame) // hop + 1
                idx = np.arange(frame)[None, :] + hop * np.arange(nf)[:, None]
                w = v[idx]  # (nf, frame) windows, one gather
                rms = np.sqrt((w * w).sum(axis=1) / frame)
                peak = np.abs(w).max(axis=1).astype(np.int64)
                flips = ((w[:, 1:] < 0) != (w[:, :-1] < 0)).sum(axis=1)
                zcr = flips / float(frame - 1)
                start = 1000.0 * hop * np.arange(nf) / rate
                cols["media_id"].extend([int(mid)] * nf)
                cols["frame_idx"].extend(range(nf))
                cols["start_ms"].extend(start.tolist())
                cols["rms"].extend(rms.tolist())
                cols["peak_abs"].extend(peak.tolist())
                cols["zcr"].extend(zcr.tolist())
            if cols["media_id"]:
                yield pd.DataFrame(cols)

    return media.select("media_id", "payload").mapInPandas(
        run, schema=AUDIO_FRAME_SCHEMA
    )


IMAGE_PATCH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("patch_row", T.LongType(), False),
        T.StructField("patch_col", T.LongType(), False),
        T.StructField("mean_r", T.DoubleType(), False),
        T.StructField("mean_g", T.DoubleType(), False),
        T.StructField("mean_b", T.DoubleType(), False),
        T.StructField("mean_gray", T.DoubleType(), False),
    ]
)


def image_patch_features(media: DataFrame, patch: int = 4) -> DataFrame:
    """ViT-style patch extraction (the image-model preprocessing
    shape: the image splits into a grid of patch×patch tiles and each
    tile emits one feature row — here per-channel and gray means; a
    production pipeline would emit the flattened tile for the patch
    embedding). BMP payloads via :func:`decode_bmp`.

    Vectorization contract (the mm5 lesson): the codec is Python by
    design; the per-pixel math is ONE numpy reshape to (grid_h, patch,
    grid_w, patch, 3) + axis sums. 8-bit samples make the sums exact
    integers, and patch=4 means the channel means divide by 16 — a
    power of two, exact in binary — while gray divides the integer
    patch sum by 48.0 ONCE, so both engines see identical doubles.

    Scale: mapInPandas over the media scan — payloads never shuffle;
    output rows proportional to image area / patch², partition-
    parallel. Images whose sides aren't multiples of ``patch`` crop
    to the covered grid (the standard resize-then-patch contract is a
    resize decision upstream of this operator)."""
    import numpy as np

    if patch < 1:
        raise ValueError("image_patch_features: patch >= 1")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            cols: dict[str, list] = {
                k: []
                for k in (
                    "media_id", "patch_row", "patch_col",
                    "mean_r", "mean_g", "mean_b", "mean_gray",
                )
            }
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    continue
                w, h, ch, samples = decode_bmp(bytes(payload))
                a = (
                    np.frombuffer(samples, dtype=np.uint8)
                    .astype(np.float64)
                    .reshape(h, w, ch)[:, : (w // patch) * patch, :3]
                )
                a = a[: (h // patch) * patch]
                gh, gw = a.shape[0] // patch, a.shape[1] // patch
                if gh == 0 or gw == 0:
                    continue
                sums = a.reshape(gh, patch, gw, patch, 3).sum(axis=(1, 3))
                denom = float(patch * patch)
                rows = gh * gw
                pr_idx, pc_idx = np.divmod(np.arange(rows), gw)
                cols["media_id"].extend([int(mid)] * rows)
                cols["patch_row"].extend(pr_idx.tolist())
                cols["patch_col"].extend(pc_idx.tolist())
                cols["mean_r"].extend((sums[..., 0] / denom).ravel().tolist())
                cols["mean_g"].extend((sums[..., 1] / denom).ravel().tolist())
                cols["mean_b"].extend((sums[..., 2] / denom).ravel().tolist())
                cols["mean_gray"].extend(
                    (sums.sum(axis=2) / (denom * 3)).ravel().tolist()
                )
            if cols["media_id"]:
                yield pd.DataFrame(cols)

    from lakerunner_spark.operators.skew import (
        MEDIA_ROWS_PER_PART,
        spread_small_scan,
    )

    # the decode seam is the measured cost of every image pipeline
    # (r13 #5: 12k images arrived as 6 scan partitions on 32 cores);
    # spread the projected (id, payload) rows before the seam — no-op
    # on many-file production scans
    return spread_small_scan(
        media.select("media_id", "payload"),
        rows_per_part=MEDIA_ROWS_PER_PART,
    ).mapInPandas(run, schema=IMAGE_PATCH_SCHEMA)


def image_dhash_bands(
    media: DataFrame,
    patch: int = 4,
    grid_cols: int = 9,
    band_rows: int = 2,
) -> DataFrame:
    """dHash perceptual image fingerprint, emitted directly as LSH band
    words (the difference-hash of Krawetz's classic recipe, on top of
    :func:`image_patch_features`): the image reduces to a
    ``grid_cols``-wide grid of tile gray levels, bit (r, c) is 1 iff
    gray(r, c) < gray(r, c+1), and each run of ``band_rows`` bit-rows
    packs into one integer band word. Output: (media_id, band, word).

    Comparing horizontal GRADIENTS instead of absolute levels is what
    makes the hash invariant to uniform brightness/contrast shifts —
    the common benign transform between re-encodes of the same image —
    while local edits flip only the bits whose tiles they touch, so
    Hamming distance measures visual difference.

    Determinism/oracle contract: the tile gray level is
    mean_r + mean_g + mean_b — each term an integer tile sum divided
    by the power-of-two patch area, so every level is an exact binary
    double and the < comparisons are engine-identical (the mm7
    integer-exactness trade). Band words accumulate by integer
    shiftleft — exact at every permitted width.

    Scale: the decode is the one mapInPandas seam (payloads never
    shuffle), and this plan holds ONE decode pass: the gradient bit
    comes from lead() over a (media, tile-row) window — partitions
    bounded by one image row, never the corpus — instead of a tile
    self-join (whose aliased branches would re-run the decode per
    side). Consumers that read the output through MULTIPLE joins (the
    banded Hamming join reads it four times) materialize it once —
    dedup.hamming_neardup_pairs checkpoints by default, the dd12
    lesson. Emitting BAND WORDS rather than one wide hash feeds that
    join without ever materializing an all-pairs comparison."""
    p = image_patch_features(media, patch)
    return _dhash_band_words(
        p, ["media_id"], grid_cols, band_rows, caller="image_dhash_bands"
    )


def _dhash_band_words(
    patches: DataFrame,
    id_cols: list[str],
    grid_cols: int,
    band_rows: int,
    caller: str = "_dhash_band_words",
) -> DataFrame:
    """Declarative dHash core shared by the image, video-frame, and
    audio paths: tile-mean patch rows -> gradient bits -> packed band
    words, keyed by ``id_cols`` (one image = [media_id]; one video
    frame = [media_id, frame_idx]). See :func:`image_dhash_bands` for
    the algorithm and exactness contract. ``caller`` names the public
    entry point in validation errors — three functions share this
    core, and an audio misconfiguration must not report as an image
    one."""
    from pyspark.sql import Window

    if band_rows < 1:
        raise ValueError(f"{caller}: band_rows >= 1")
    bits_per_row = grid_cols - 1
    if band_rows * bits_per_row > 62:
        raise ValueError(
            f"{caller}: band word exceeds 62 bits — lower "
            "band_rows or grid_cols"
        )
    g = patches.select(
        *id_cols,
        "patch_row",
        "patch_col",
        (F.col("mean_r") + F.col("mean_g") + F.col("mean_b")).alias("_g"),
    )
    wrow = Window.partitionBy(*id_cols, "patch_row").orderBy("patch_col")
    # clamp to the DECLARED grid width: an image wider than
    # grid_cols*patch produces tiles at patch_col >= grid_cols, whose
    # bit positions would wrap into the next bit-row inside the band
    # word (the 62-bit guard only checks the declared geometry).
    # Keeping tiles 0..grid_cols-1 (the last one only as a lead
    # neighbor — its own bit is cut by the _nxt NULL filter) yields
    # exactly bits 0..grid_cols-2 per row for every image at least
    # grid_cols tiles wide; narrower images simply carry fewer bits
    # (hamming_neardup_pairs rejects band-COUNT mismatches separately).
    bits = (
        g.filter(F.col("patch_col") < grid_cols)
        .withColumn("_nxt", F.lead("_g").over(wrow))
        .filter(F.col("_nxt").isNotNull())
        .select(
            *id_cols,
            F.col("patch_row").alias("_r"),
            F.col("patch_col").alias("_c"),
            F.when(F.col("_g") < F.col("_nxt"), F.lit(1))
            .otherwise(F.lit(0))
            .alias("_bit"),
        )
    )
    # integer shift, not a double 2^pos product: a double sum is only
    # exact to 2^53, which would silently corrupt 54-62-bit words (the
    # guard above allows them); shiftleft keeps every width exact
    contrib = F.expr(
        f"shiftleft(CAST(_bit AS BIGINT),"
        f" CAST((_r % {band_rows}) * {bits_per_row} + _c AS INT))"
    )
    return (
        bits.groupBy(
            *id_cols,
            (F.col("_r") / band_rows).cast("long").alias("band"),
        )
        .agg(F.sum(contrib).cast("long").alias("word"))
    )


VIDEO_PATCH_SCHEMA = T.StructType(
    [T.StructField("media_id", T.LongType(), False),
     T.StructField("frame_idx", T.LongType(), False)]
    + IMAGE_PATCH_SCHEMA.fields[1:]
)


def video_frame_patches(
    media: DataFrame,
    stride: int = 1,
    max_frames: int = 16,
    patch: int = 4,
) -> DataFrame:
    """Per-FRAME patch extraction for video payloads — the video
    analogue of :func:`image_patch_features`: avi_info plans the frame
    sample (stride/max_frames, metadata only), decode_avi_frame slices
    exactly the sampled frames, and each decoded frame runs the same
    one-reshape numpy tile-sum as the image path (integer sums /
    power-of-two area -> exact doubles, the mm7 contract). Output:
    (media_id, frame_idx, patch_row, patch_col, mean_r/g/b, mean_gray).

    Scale: one mapInPandas over the video scan — payload bytes never
    shuffle; output rows are sample_frames x tiles, proportional to
    the sampled content, not the container."""
    import numpy as np

    if patch < 1:
        raise ValueError("video_frame_patches: patch >= 1")
    if stride < 1:
        raise ValueError("video_frame_patches: stride >= 1")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            cols: dict[str, list] = {
                k: []
                for k in (
                    "media_id", "frame_idx", "patch_row", "patch_col",
                    "mean_r", "mean_g", "mean_b", "mean_gray",
                )
            }
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    continue
                payload = bytes(payload)
                w, h, n, _ = avi_info(payload)
                for f in list(range(0, n, stride))[:max_frames]:
                    rgb = decode_avi_frame(payload, f)
                    a = (
                        np.frombuffer(rgb, dtype=np.uint8)
                        .astype(np.float64)
                        .reshape(h, w, 3)[
                            : (h // patch) * patch, : (w // patch) * patch
                        ]
                    )
                    gh, gw = a.shape[0] // patch, a.shape[1] // patch
                    if gh == 0 or gw == 0:
                        continue
                    sums = a.reshape(gh, patch, gw, patch, 3).sum(
                        axis=(1, 3)
                    )
                    denom = float(patch * patch)
                    rows = gh * gw
                    pr_idx, pc_idx = np.divmod(np.arange(rows), gw)
                    cols["media_id"].extend([int(mid)] * rows)
                    cols["frame_idx"].extend([int(f)] * rows)
                    cols["patch_row"].extend(pr_idx.tolist())
                    cols["patch_col"].extend(pc_idx.tolist())
                    cols["mean_r"].extend(
                        (sums[..., 0] / denom).ravel().tolist()
                    )
                    cols["mean_g"].extend(
                        (sums[..., 1] / denom).ravel().tolist()
                    )
                    cols["mean_b"].extend(
                        (sums[..., 2] / denom).ravel().tolist()
                    )
                    cols["mean_gray"].extend(
                        (sums.sum(axis=2) / (denom * 3)).ravel().tolist()
                    )
            if cols["media_id"]:
                yield pd.DataFrame(cols)

    return (
        media.filter(F.col("media_type") == "video")
        .select("media_id", "payload")
        .mapInPandas(run, schema=VIDEO_PATCH_SCHEMA)
    )


def video_frame_dhash_bands(
    media: DataFrame,
    stride: int = 1,
    max_frames: int = 16,
    patch: int = 4,
    grid_cols: int = 9,
    band_rows: int = 2,
) -> DataFrame:
    """dHash band words PER SAMPLED VIDEO FRAME: the image dHash
    machinery (:func:`image_dhash_bands` — same gradient bits, same
    exactness contract, same 62-bit guard) applied to
    :func:`video_frame_patches` output, keyed (media_id, frame_idx).
    Output: (media_id, frame_idx, band, word) — the input
    dedup.frame_hamming_runs expects."""
    p = video_frame_patches(media, stride, max_frames, patch)
    return _dhash_band_words(
        p, ["media_id", "frame_idx"], grid_cols, band_rows,
        caller="video_frame_dhash_bands",
    )


def audio_band_energy_patches(
    media: DataFrame,
    frame: int = 512,
    hop: int = 256,
    bands: int = 32,
    row_width: int = 16,
) -> DataFrame:
    """Per-frame BAND ENERGIES in the patch-grid shape
    :func:`_dhash_band_words` consumes — the audio analogue of the
    image tile means (Haitsma & Kalker's fingerprint family: a hash
    bit per adjacent-band energy comparison): each analysis window of
    ``frame`` samples (stride ``hop``, the mm6 framing) splits into
    ``bands`` contiguous sub-bands whose squared-sample sums are the
    "tile grays". Emitted keyed (media_id, frame_idx) with
    patch_row = band // row_width, patch_col = band % row_width, the
    energy in mean_r (mean_g/mean_b zero) — so the SAME declarative
    gradient-bit/word packer the image and video paths use produces
    ``bands/row_width`` words of ``row_width - 1`` bits per frame.

    Exactness: 16-bit samples make every squared sum an exact integer
    double (< 2^53) in any summation order; comparisons are
    engine-identical. Energy-difference SIGNS are invariant to
    uniform amplitude scaling — the volume-change/re-encode analogue
    of dHash's brightness invariance.

    Scale: one mapInPandas over the audio scan (payloads never
    shuffle); output rows = frames x bands, proportional to duration;
    the per-sample math is one numpy strided gather + reshape."""
    import numpy as np

    if frame < bands or frame % bands:
        raise ValueError(
            "audio_band_energy_patches: frame must be a multiple of bands"
        )
    if hop < 1:
        raise ValueError("audio_band_energy_patches: hop >= 1")
    if bands % row_width:
        raise ValueError(
            "audio_band_energy_patches: bands must be a multiple of "
            "row_width"
        )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            cols: dict[str, list] = {
                k: []
                for k in (
                    "media_id", "frame_idx", "patch_row", "patch_col",
                    "mean_r", "mean_g", "mean_b", "mean_gray",
                )
            }
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    continue
                _rate, channels, samples = decode_wav(bytes(payload))
                if channels != 1:
                    raise NotImplementedError(
                        "audio_band_energy_patches: mono only"
                    )
                a = np.asarray(samples, dtype=np.float64)
                if a.size < frame:
                    continue
                n_frames = 1 + (a.size - frame) // hop
                idx = (
                    np.arange(frame)[None, :]
                    + hop * np.arange(n_frames)[:, None]
                )
                en = (a[idx] ** 2).reshape(
                    n_frames, bands, frame // bands
                ).sum(axis=2)
                rows = n_frames * bands
                f_idx, b_idx = np.divmod(np.arange(rows), bands)
                cols["media_id"].extend([int(mid)] * rows)
                cols["frame_idx"].extend(f_idx.tolist())
                cols["patch_row"].extend((b_idx // row_width).tolist())
                cols["patch_col"].extend((b_idx % row_width).tolist())
                cols["mean_r"].extend(en.ravel().tolist())
                cols["mean_g"].extend([0.0] * rows)
                cols["mean_b"].extend([0.0] * rows)
                cols["mean_gray"].extend([0.0] * rows)
            if cols["media_id"]:
                yield pd.DataFrame(cols)

    return (
        media.filter(F.col("media_type") == "audio")
        .select("media_id", "payload")
        .mapInPandas(run, schema=VIDEO_PATCH_SCHEMA)
    )


def audio_fingerprint_words(
    media: DataFrame,
    frame: int = 512,
    hop: int = 256,
    bands: int = 32,
    row_width: int = 16,
) -> DataFrame:
    """Audio fingerprint band words per frame: band-energy patches
    through the SAME gradient-bit packer the image/video paths use
    (bit = energy(band) < energy(band+1) within a word row). Output
    (media_id, frame_idx, band, word) — frame_hamming_runs' input."""
    p = audio_band_energy_patches(media, frame, hop, bands, row_width)
    return _dhash_band_words(
        p, ["media_id", "frame_idx"], grid_cols=row_width, band_rows=1,
        caller="audio_fingerprint_words",
    )
