"""Multimodal column plumbing (BASELINE.json north star).

Images/audio/video are opaque ``binary`` columns with typed metadata.

Pattern: a media table is (media_id long, content binary, media_type string,
meta map/string). Feature extraction is ``mapInPandas`` — Arrow-batched,
one Python worker per partition, constant memory per batch — NOT a per-row
UDF. At 100 TB the binary payloads dominate I/O, so extraction projects
only (media_id, features) forward and the binary column is dropped
immediately after the map (column pruning keeps it out of later shuffles).

Decoding uses the built-in, dependency-free codecs (binary PPM P6, BMP,
PNG) — decode, nearest-neighbor resize and re-encode all run in-process;
any other payload (JPEG, video) raises a clear ``ValueError``. The module
is shipped to Python workers by value, so a worker needs no import of this
package, whatever the driver's working directory or PYTHONPATH.
"""

from __future__ import annotations

import hashlib
import sys
from collections.abc import Iterator
from dataclasses import dataclass

import pandas as pd
from pyspark import cloudpickle
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


# ---------------------------------------------------------------------------
# Image codecs: pure-Python PPM (P6), BMP and PNG
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class DecodedImage:
    """Minimal decoded-image interchange: RGB, 8 bits/channel, row-major
    interleaved bytes (len == width * height * 3)."""

    width: int
    height: int
    pixels: bytes

    def pixel(self, x: int, y: int) -> tuple[int, int, int]:
        off = (y * self.width + x) * 3
        return tuple(self.pixels[off : off + 3])


def _ppm_header_tokens(content: bytes, n: int) -> tuple[list[int], int]:
    """Parse ``n`` whitespace/comment-separated integer tokens after the P6
    magic; return (values, offset-just-past-the-single-whitespace-after-them)."""
    vals: list[int] = []
    i = 2  # past b"P6"
    while len(vals) < n:
        while i < len(content) and content[i : i + 1].isspace():
            i += 1
        if content[i : i + 1] == b"#":  # comment runs to end of line
            while i < len(content) and content[i] != 0x0A:
                i += 1
            continue
        j = i
        while j < len(content) and not content[j : j + 1].isspace():
            j += 1
        vals.append(int(content[i:j]))
        i = j
    return vals, i + 1  # exactly ONE whitespace byte separates header from raster


def decode_ppm(content: bytes) -> DecodedImage:
    """Decode a binary PPM (P6, maxval <= 255) — pure Python, no deps."""
    if content[:2] != b"P6":
        raise ValueError("not a binary PPM (P6) payload")
    (width, height, maxval), off = _ppm_header_tokens(content, 3)
    if maxval > 255:
        raise ValueError("16-bit PPM not supported by the built-in decoder")
    need = width * height * 3
    pixels = content[off : off + need]
    if len(pixels) != need:
        raise ValueError(f"truncated PPM raster: want {need} bytes, have {len(pixels)}")
    return DecodedImage(width, height, bytes(pixels))


def encode_ppm(img: DecodedImage) -> bytes:
    """Encode RGB bytes as binary PPM (P6)."""
    return b"P6\n%d %d\n255\n" % (img.width, img.height) + img.pixels


def decode_bmp(content: bytes) -> DecodedImage:
    """Decode an uncompressed 24bpp Windows BMP (BITMAPINFOHEADER, BI_RGB)
    — pure Python, no deps. Exercises the container quirks PPM doesn't:
    little-endian binary headers, BGR byte order, bottom-up row storage
    (negative height = top-down), and 4-byte row-stride padding."""
    import struct

    if content[:2] != b"BM":
        raise ValueError("not a BMP payload")
    off_bits = struct.unpack_from("<I", content, 10)[0]
    hdr_size = struct.unpack_from("<I", content, 14)[0]
    if hdr_size < 40:
        raise ValueError("BITMAPCOREHEADER (OS/2) BMP not supported")
    width, height = struct.unpack_from("<ii", content, 18)
    bpp = struct.unpack_from("<H", content, 28)[0]
    compression = struct.unpack_from("<I", content, 30)[0]
    if bpp != 24 or compression != 0:
        raise ValueError("only uncompressed 24bpp (BI_RGB) BMP supported")
    top_down = height < 0
    h = abs(height)
    stride = (width * 3 + 3) & ~3  # rows pad to 4-byte boundaries
    if len(content) < off_bits + stride * h:
        raise ValueError("truncated BMP raster")
    out = bytearray(width * h * 3)
    for y in range(h):
        src = off_bits + (y if top_down else h - 1 - y) * stride
        row = content[src : src + width * 3]
        for x in range(width):
            d = (y * width + x) * 3
            out[d] = row[3 * x + 2]  # R  (stored B,G,R)
            out[d + 1] = row[3 * x + 1]  # G
            out[d + 2] = row[3 * x]  # B
    return DecodedImage(width, h, bytes(out))


def encode_bmp(img: DecodedImage) -> bytes:
    """Encode RGB bytes as an uncompressed 24bpp bottom-up BMP."""
    import struct

    stride = (img.width * 3 + 3) & ~3
    raster = bytearray()
    for y in range(img.height - 1, -1, -1):  # bottom-up row order
        row = bytearray()
        for x in range(img.width):
            r, g, b = img.pixel(x, y)
            row += bytes((b, g, r))
        row += b"\x00" * (stride - len(row))
        raster += row
    off = 14 + 40
    header = b"BM" + struct.pack("<IHHI", off + len(raster), 0, 0, off)
    info = struct.pack(
        "<IiiHHIIiiII", 40, img.width, img.height, 1, 24, 0, len(raster), 2835, 2835, 0, 0
    )
    return header + info + raster


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _paeth(a: int, b: int, c: int) -> int:
    """Paeth predictor (PNG spec 9.4): nearest of left/up/up-left to a+b-c."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def decode_png(content: bytes) -> DecodedImage:
    """Decode an 8-bit truecolor (RGB / RGBA, non-interlaced) PNG — pure
    Python over stdlib zlib: chunk walk with CRC verification, IDAT
    reassembly, INFLATE, and full scanline unfiltering (all five filter
    types incl. the Paeth predictor). This is a REAL third codec next to
    PPM/BMP — the compressed path the other two don't exercise."""
    import struct
    import zlib

    if content[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, width = 8, None
    height = bit_depth = color_type = interlace = None
    idat = bytearray()
    while pos + 8 <= len(content):
        (length,) = struct.unpack_from(">I", content, pos)
        if pos + 12 + length > len(content):  # body+CRC must fit in bounds
            raise ValueError("truncated PNG chunk")
        ctype = content[pos + 4 : pos + 8]
        data = content[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack_from(">I", content, pos + 8 + length)
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {ctype!r} CRC mismatch")
        if ctype == b"IHDR":
            width, height, bit_depth, color_type, _comp, _filt, interlace = (
                struct.unpack(">IIBBBBB", data)
            )
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if width is None:
        raise ValueError("PNG missing IHDR")
    if bit_depth != 8 or color_type not in (2, 6) or interlace != 0:
        raise ValueError(
            "only 8-bit truecolor (RGB/RGBA) non-interlaced PNG supported"
        )
    ch = 3 if color_type == 2 else 4
    raw = zlib.decompress(bytes(idat))
    stride = width * ch
    if len(raw) != (stride + 1) * height:
        raise ValueError("PNG raster size mismatch")
    out = bytearray(width * height * 3)
    prev = bytearray(stride)
    for y in range(height):
        ftype = raw[y * (stride + 1)]
        line = bytearray(raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)])
        if ftype == 1:  # Sub
            for i in range(ch, stride):
                line[i] = (line[i] + line[i - ch]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                left = line[i - ch] if i >= ch else 0
                line[i] = (line[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                left = line[i - ch] if i >= ch else 0
                ul = prev[i - ch] if i >= ch else 0
                line[i] = (line[i] + _paeth(left, prev[i], ul)) & 0xFF
        elif ftype != 0:
            raise ValueError(f"unknown PNG filter type {ftype}")
        for x in range(width):
            d = (y * width + x) * 3
            out[d : d + 3] = line[x * ch : x * ch + 3]  # alpha (if any) drops
        prev = line
    return DecodedImage(width, height, bytes(out))


def encode_png(img: DecodedImage, filter_type: int = 0, level: int = 6) -> bytes:
    """Encode RGB bytes as an 8-bit truecolor PNG. ``filter_type`` applies
    the given PNG filter to every scanline (0-4) — the decoder must invert
    it, so the roundtrip tests sweep all five."""
    import struct
    import zlib

    stride = img.width * 3
    raw = bytearray()
    prev = bytes(stride)
    for y in range(img.height):
        line = img.pixels[y * stride : (y + 1) * stride]
        raw.append(filter_type)
        if filter_type == 0:
            raw += line
        elif filter_type == 1:
            raw += bytes(
                (line[i] - (line[i - 3] if i >= 3 else 0)) & 0xFF
                for i in range(stride)
            )
        elif filter_type == 2:
            raw += bytes((line[i] - prev[i]) & 0xFF for i in range(stride))
        elif filter_type == 3:
            raw += bytes(
                (line[i] - (((line[i - 3] if i >= 3 else 0) + prev[i]) >> 1))
                & 0xFF
                for i in range(stride)
            )
        elif filter_type == 4:
            raw += bytes(
                (
                    line[i]
                    - _paeth(
                        line[i - 3] if i >= 3 else 0,
                        prev[i],
                        prev[i - 3] if i >= 3 else 0,
                    )
                )
                & 0xFF
                for i in range(stride)
            )
        else:
            raise ValueError(f"unknown PNG filter type {filter_type}")
        prev = line

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", img.width, img.height, 8, 2, 0, 0, 0)
    idat = zlib.compress(bytes(raw), level)
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", idat)
        + chunk(b"IEND", b"")
    )


def decode_auto(content: bytes) -> DecodedImage:
    """Magic-byte dispatch over the built-in codecs (PPM P6, BMP, PNG)."""
    if bytes(content[:8]) == _PNG_SIG:
        return decode_png(content)
    head = bytes(content[:2])
    if head == b"P6":
        return decode_ppm(content)
    if head == b"BM":
        return decode_bmp(content)
    raise ValueError("unrecognized image payload (built-ins: PPM P6, BMP, PNG)")


FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("byte_len", T.LongType()),
        T.StructField("content_sha", T.StringType()),
        T.StructField("feature", T.ArrayType(T.DoubleType())),
    ]
)


def decode_image(content: bytes) -> DecodedImage:
    """Decode an image payload with the built-in codecs (``decode_auto``)."""
    return decode_auto(bytes(content))


def _fake_feature(content: bytes, dim: int = 8) -> list[float]:
    """Deterministic stand-in for a decoded-media feature vector: bytes of
    sha256 scaled to [0,1). Keeps tests reproducible for non-image media."""
    digest = hashlib.sha256(content).digest()
    return [b / 255.0 for b in digest[:dim]]


def resize_image(content: bytes, width: int, height: int) -> bytes:
    """Decode → nearest-neighbor resample → re-encode (PPM out).

    Nearest-neighbor keeps the path dependency-free and deterministic."""
    img = decode_image(content)
    out = bytearray(width * height * 3)
    for y in range(height):
        sy = y * img.height // height
        row = sy * img.width
        for x in range(width):
            sx = x * img.width // width
            src = (row + sx) * 3
            dst = (y * width + x) * 3
            out[dst : dst + 3] = img.pixels[src : src + 3]
    return encode_ppm(DecodedImage(width, height, bytes(out)))


MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("content", T.BinaryType()),
    ]
)


def synth_ppm_table(docs: DataFrame, width: int = 8, height: int = 4) -> DataFrame:
    """Deterministic synthetic RGB images, one per document row: raster byte
    ``i`` is ``((doc_id % 256) * 7 + i) % 256``, encoded as binary PPM (P6).

    Closed-form pixels make decode verifiable by an independent oracle that
    never touches the codec (the DuckDB twin recomputes the same modular
    arithmetic in SQL)."""
    n = width * height * 3

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            contents = []
            for did in pdf["doc_id"]:
                base = int(did) % 256
                raster = bytes((base * 7 + i) % 256 for i in range(n))
                contents.append(encode_ppm(DecodedImage(width, height, raster)))
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"].astype("int64"), "content": contents}
            )

    return docs.select("doc_id").mapInPandas(gen, MEDIA_SCHEMA)


def synth_mixed_media_table(docs: DataFrame, width: int = 8, height: int = 4) -> DataFrame:
    """Deterministic synthetic images with per-row container format cycling
    doc_id % 3 → PPM (P6) / 24bpp BMP / PNG — the SAME closed-form raster
    in every container (byte i = ((doc_id % 256) * 7 + i) % 256), so a
    codec-blind oracle verifies that the magic-dispatch decoder recovers
    identical pixels from all three. The PNG leg additionally cycles the
    scanline filter (doc_id % 5: None/Sub/Up/Average/Paeth), so every
    filter type's unfilter path sits inside the driver-gated query."""
    n = width * height * 3

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            contents = []
            for did in pdf["doc_id"]:
                base = int(did) % 256
                raster = bytes((base * 7 + i) % 256 for i in range(n))
                img = DecodedImage(width, height, raster)
                m = int(did) % 3
                if m == 0:
                    contents.append(encode_ppm(img))
                elif m == 1:
                    contents.append(encode_bmp(img))
                else:
                    contents.append(encode_png(img, filter_type=int(did) % 5))
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"].astype("int64"), "content": contents}
            )

    return docs.select("doc_id").mapInPandas(gen, MEDIA_SCHEMA)


STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("sum_r", T.LongType()),
        T.StructField("sum_g", T.LongType()),
        T.StructField("sum_b", T.LongType()),
    ]
)


def decode_image_stats(media: DataFrame, resize_to: tuple[int, int] | None = None) -> DataFrame:
    """Decode (optionally resize) every image and emit per-channel integer
    pixel sums — mapInPandas, binary dropped after the map. Integer sums
    keep the result exactly reproducible on any engine (the consumer
    divides once for means)."""

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, ws, hs, rs, gs, bs = [], [], [], [], [], []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                c = bytes(content)
                if resize_to is not None:
                    c = resize_image(c, *resize_to)
                img = decode_image(c)
                px = img.pixels
                ids.append(mid)
                ws.append(img.width)
                hs.append(img.height)
                rs.append(sum(px[0::3]))
                gs.append(sum(px[1::3]))
                bs.append(sum(px[2::3]))
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "width": pd.Series(ws, dtype="int32"),
                    "height": pd.Series(hs, dtype="int32"),
                    "sum_r": pd.Series(rs, dtype="int64"),
                    "sum_g": pd.Series(gs, dtype="int64"),
                    "sum_b": pd.Series(bs, dtype="int64"),
                }
            )

    return media.select("media_id", "content").mapInPandas(stats, STATS_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_sha", T.StringType()),
        T.StructField("frame_len", T.IntegerType()),
    ]
)


def sample_frames(media: DataFrame, frame_size: int = 64, stride: int = 4) -> DataFrame:
    """Video-style frame sampling over an opaque binary column.

    VIDEO DECODE IS A FAKE (no av/ffmpeg in this container — images have a
    real built-in codec, video does not): the byte stream is treated as
    fixed-``frame_size`` frames and every ``stride``-th frame is kept —
    deterministic, so the Spark plumbing (mapInPandas fan-out of one input
    row to many output rows, Arrow batch shape, binary column dropped
    after the map) is real and testable. A real container decoder replaces
    only the inner slicing loop."""

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, shas, lens = [], [], [], []
            for media_id, content in zip(pdf["media_id"], pdf["content"]):
                content = bytes(content)
                n_frames = max((len(content) + frame_size - 1) // frame_size, 1)
                for i in range(0, n_frames, stride):
                    frame = content[i * frame_size : (i + 1) * frame_size]
                    ids.append(media_id)
                    idxs.append(i)
                    shas.append(hashlib.sha256(frame).hexdigest())
                    lens.append(len(frame))
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "frame_sha": pd.Series(shas, dtype="object"),
                    "frame_len": pd.Series(lens, dtype="int32"),
                }
            )

    return media.select("media_id", "content").mapInPandas(sample, FRAME_SCHEMA)


def as_media_table(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Build a media-shaped table from `documents` (content = utf-8 bytes).

    Stands in for an image/audio table: opaque binary + typed metadata."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col(text_col), "utf-8").alias("content"),
        F.lit("text/plain").alias("media_type"),
        F.col("n_chars").alias("meta_n_chars"),
    )


def extract_features(media: DataFrame, dim: int = 8) -> DataFrame:
    """mapInPandas feature extraction over binary content.

    Arrow ships (media_id, content) batches to Python; each batch returns a
    small feature frame. The binary column does not survive the operator."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            content = pdf["content"]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "byte_len": content.map(len).astype("int64"),
                    "content_sha": content.map(lambda b: hashlib.sha256(b).hexdigest()),
                    "feature": content.map(lambda b: _fake_feature(b, dim)),
                }
            )

    return media.select("media_id", "content").mapInPandas(extract, FEATURE_SCHEMA)


# --------------------------- audio (WAV / PCM16) ---------------------------
#
# Same design as the image path: a REAL in-container codec (RIFF/WAVE
# chunk walker + PCM16 little-endian frames — the actual on-disk format),
# deterministic closed-form synthesis so an independent SQL oracle can
# verify the decode without touching the codec, and integer sample sums so
# every derived statistic is engine-exact.

_WAV_FMT_PCM = 1


def encode_wav(
    channels: list[list[int]], sample_rate: int = 8000
) -> bytes:
    """Encode per-channel int16 sample lists as a PCM16 WAV file.

    Emits a spec-complete RIFF container — fmt chunk, a deliberate junk
    chunk (decoders MUST skip unknown chunks; ours is exercised on every
    row), then interleaved little-endian PCM16 frames."""
    import struct

    n_channels = len(channels)
    n_samples = len(channels[0]) if channels else 0
    block_align = n_channels * 2
    byte_rate = sample_rate * block_align
    frames = bytearray()
    for i in range(n_samples):
        for ch in channels:
            frames += struct.pack("<h", ch[i])
    fmt = struct.pack(
        "<HHIIHH", _WAV_FMT_PCM, n_channels, sample_rate, byte_rate, block_align, 16
    )
    junk = b"synthetic-audio"  # odd length → exercises RIFF word padding
    chunks = (
        b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"junk" + struct.pack("<I", len(junk)) + junk + (b"\x00" if len(junk) % 2 else b"")
        + b"data" + struct.pack("<I", len(frames)) + bytes(frames)
    )
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def decode_wav(content: bytes) -> tuple[int, list[list[int]]]:
    """Parse a PCM16 WAV file: walk RIFF chunks (skipping unknown ones and
    their odd-length pad bytes), read the fmt chunk, de-interleave the data
    chunk. Returns (sample_rate, per-channel sample lists)."""
    import struct

    if content[:4] != b"RIFF" or content[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos, end = 12, 8 + struct.unpack("<I", content[4:8])[0]
    n_channels = sample_rate = bits = None
    frames = None
    while pos + 8 <= min(end, len(content)):
        cid = content[pos : pos + 4]
        size = struct.unpack("<I", content[pos + 4 : pos + 8])[0]
        body = content[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt_tag, n_channels, sample_rate, _, _, bits = struct.unpack(
                "<HHIIHH", body[:16]
            )
            if fmt_tag != _WAV_FMT_PCM or bits != 16:
                raise ValueError(f"unsupported WAV: fmt={fmt_tag} bits={bits}")
        elif cid == b"data":
            frames = body
        pos += 8 + size + (size % 2)  # chunks are word-aligned
    if n_channels is None or frames is None:
        raise ValueError("missing fmt/data chunk")
    n_frames = len(frames) // (2 * n_channels)
    flat = struct.unpack(f"<{n_frames * n_channels}h", frames[: n_frames * n_channels * 2])
    return sample_rate, [list(flat[c::n_channels]) for c in range(n_channels)]


def synth_wav_table(
    docs: DataFrame,
    n_samples: int = 64,
    sample_rate: int = 8000,
    n_channels: int = 2,
) -> DataFrame:
    """Deterministic synthetic stereo PCM16 audio, one clip per document:
    channel ``c`` sample ``i`` is ``((doc_id*31 + i*7 + c*13) % 65536) −
    32768`` — closed-form, so the oracle recomputes expected samples in SQL
    without touching the codec."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            contents = []
            for did in pdf["doc_id"]:
                d = int(did)
                chans = [
                    [((d * 31 + i * 7 + c * 13) % 65536) - 32768 for i in range(n_samples)]
                    for c in range(n_channels)
                ]
                contents.append(encode_wav(chans, sample_rate))
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"].astype("int64"), "content": contents}
            )

    return docs.select("doc_id").mapInPandas(gen, MEDIA_SCHEMA)


AUDIO_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("sum_ch0", T.LongType()),
        T.StructField("sumsq_ch0", T.LongType()),
        T.StructField("sum_ch1", T.LongType()),
        T.StructField("sumsq_ch1", T.LongType()),
    ]
)


def decode_audio_stats(media: DataFrame) -> DataFrame:
    """Decode every WAV clip and emit per-channel integer sample sums and
    sums of squares (mapInPandas; binary dropped after the map). The
    consumer derives mean/RMS with one division (+ one correctly-rounded
    sqrt) each, so the doubles are engine-exact. Mono clips emit NULL for
    channel 1."""

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: dict[str, list] = {k.name: [] for k in AUDIO_STATS_SCHEMA.fields}
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                rate, chans = decode_wav(bytes(content))
                rows["media_id"].append(int(mid))
                rows["sample_rate"].append(rate)
                rows["n_samples"].append(len(chans[0]) if chans else 0)
                for c in (0, 1):
                    if c < len(chans):
                        rows[f"sum_ch{c}"].append(sum(chans[c]))
                        rows[f"sumsq_ch{c}"].append(sum(s * s for s in chans[c]))
                    else:
                        rows[f"sum_ch{c}"].append(None)
                        rows[f"sumsq_ch{c}"].append(None)
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(rows["media_id"], dtype="int64"),
                    "sample_rate": pd.Series(rows["sample_rate"], dtype="int32"),
                    "n_samples": pd.Series(rows["n_samples"], dtype="int64"),
                    "sum_ch0": pd.Series(rows["sum_ch0"], dtype="Int64"),
                    "sumsq_ch0": pd.Series(rows["sumsq_ch0"], dtype="Int64"),
                    "sum_ch1": pd.Series(rows["sum_ch1"], dtype="Int64"),
                    "sumsq_ch1": pd.Series(rows["sumsq_ch1"], dtype="Int64"),
                }
            )

    return media.select("media_id", "content").mapInPandas(stats, AUDIO_STATS_SCHEMA)


AUDIO_WINDOW_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("channel", T.IntegerType()),
        T.StructField("win", T.IntegerType()),
        T.StructField("n", T.LongType()),
        T.StructField("sum_w", T.LongType()),
        T.StructField("sumsq_w", T.LongType()),
    ]
)


def decode_audio_windows(media: DataFrame, window_samples: int = 16) -> DataFrame:
    """Frame-level audio features: decode every WAV clip and emit one row
    per (channel, fixed-size sample window) with exact integer sample sums
    and sums of squares — the windowed-energy (RMS) feature grid a speech
    pipeline computes before VAD/segmentation. mapInPandas: the binary
    column never leaves the Arrow batch; the fan-out is
    n_channels×ceil(n_samples/window) small integer rows per clip."""

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: dict[str, list] = {f.name: [] for f in AUDIO_WINDOW_SCHEMA.fields}
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                _rate, chans = decode_wav(bytes(content))
                for c, samples in enumerate(chans):
                    for w0 in range(0, len(samples), window_samples):
                        wnd = samples[w0 : w0 + window_samples]
                        rows["media_id"].append(int(mid))
                        rows["channel"].append(c)
                        rows["win"].append(w0 // window_samples)
                        rows["n"].append(len(wnd))
                        rows["sum_w"].append(sum(wnd))
                        rows["sumsq_w"].append(sum(s * s for s in wnd))
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(rows["media_id"], dtype="int64"),
                    "channel": pd.Series(rows["channel"], dtype="int32"),
                    "win": pd.Series(rows["win"], dtype="int32"),
                    "n": pd.Series(rows["n"], dtype="int64"),
                    "sum_w": pd.Series(rows["sum_w"], dtype="int64"),
                    "sumsq_w": pd.Series(rows["sumsq_w"], dtype="int64"),
                }
            )

    return media.mapInPandas(stats, AUDIO_WINDOW_SCHEMA)


MOMENTS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_px", T.LongType()),
        T.StructField("sum_s", T.LongType()),
        T.StructField("sumsq_s", T.LongType()),
    ]
)


def decode_image_moments(media: DataFrame) -> DataFrame:
    """Decode every image and emit exact integer luma-sum moments per
    image: n pixels, Σs and Σs² where s = r+g+b per pixel — the inputs a
    contrast/variance readout needs. Same Arrow-batched mapInPandas shape
    as decode_image_stats; only (id, 3 ints) leave the executor."""

    def moments(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, ns, s1, s2 = [], [], [], []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                img = decode_image(bytes(content))
                px = img.pixels
                svals = [
                    px[i] + px[i + 1] + px[i + 2] for i in range(0, len(px), 3)
                ]
                ids.append(mid)
                ns.append(len(svals))
                s1.append(sum(svals))
                s2.append(sum(v * v for v in svals))
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "n_px": pd.Series(ns, dtype="int64"),
                    "sum_s": pd.Series(s1, dtype="int64"),
                    "sumsq_s": pd.Series(s2, dtype="int64"),
                }
            )

    return media.select("media_id", "content").mapInPandas(moments, MOMENTS_SCHEMA)


AUDIO_ZCR_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("channel", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("n_zero_cross", T.LongType()),
        T.StructField("max_abs", T.LongType()),
    ]
)


def decode_audio_zero_crossings(media: DataFrame) -> DataFrame:
    """Per-channel zero-crossing counts — the cheapest voice-activity /
    pitch-proxy feature: a crossing is a strict sign flip between adjacent
    samples (v[i]·v[i+1] < 0; zeros never count, so the definition is
    integer-exact and engine-independent). mapInPandas over the Arrow
    batch; only (media, channel) integer feature rows leave the map."""

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: dict[str, list] = {f.name: [] for f in AUDIO_ZCR_SCHEMA.fields}
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                _rate, chans = decode_wav(bytes(content))
                for c, samples in enumerate(chans):
                    zc = sum(
                        1
                        for a, b in zip(samples, samples[1:])
                        if a * b < 0
                    )
                    rows["media_id"].append(int(mid))
                    rows["channel"].append(c)
                    rows["n_samples"].append(len(samples))
                    rows["n_zero_cross"].append(zc)
                    rows["max_abs"].append(max((abs(s) for s in samples), default=0))
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(rows["media_id"], dtype="int64"),
                    "channel": pd.Series(rows["channel"], dtype="int32"),
                    "n_samples": pd.Series(rows["n_samples"], dtype="int64"),
                    "n_zero_cross": pd.Series(rows["n_zero_cross"], dtype="int64"),
                    "max_abs": pd.Series(rows["max_abs"], dtype="int64"),
                }
            )

    return media.select("media_id", "content").mapInPandas(stats, AUDIO_ZCR_SCHEMA)


DOWNSAMPLE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("out_w", T.IntegerType()),
        T.StructField("out_h", T.IntegerType()),
        T.StructField("sum_r", T.LongType()),
        T.StructField("sum_g", T.LongType()),
        T.StructField("sum_b", T.LongType()),
    ]
)


def downsample_box2_stats(media: DataFrame) -> DataFrame:
    """Decode every image, 2×2 box-filter downsample (integer floor mean of
    each 4-pixel block, per channel — the standard mip-map step), and emit
    the downsampled raster's per-channel integer sums. Odd trailing
    rows/columns are dropped (floor semantics). The binary never leaves the
    Arrow batch; the consumer sees only small integer rows."""

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: dict[str, list] = {f.name: [] for f in DOWNSAMPLE_SCHEMA.fields}
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                img = decode_image(bytes(content))
                w2, h2 = img.width // 2, img.height // 2
                sums = [0, 0, 0]
                px = img.pixels
                for yo in range(h2):
                    for xo in range(w2):
                        for ch in range(3):
                            block = (
                                px[((2 * yo) * img.width + 2 * xo) * 3 + ch]
                                + px[((2 * yo) * img.width + 2 * xo + 1) * 3 + ch]
                                + px[((2 * yo + 1) * img.width + 2 * xo) * 3 + ch]
                                + px[((2 * yo + 1) * img.width + 2 * xo + 1) * 3 + ch]
                            )
                            sums[ch] += block // 4
                rows["media_id"].append(int(mid))
                rows["out_w"].append(w2)
                rows["out_h"].append(h2)
                rows["sum_r"].append(sums[0])
                rows["sum_g"].append(sums[1])
                rows["sum_b"].append(sums[2])
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(rows["media_id"], dtype="int64"),
                    "out_w": pd.Series(rows["out_w"], dtype="int32"),
                    "out_h": pd.Series(rows["out_h"], dtype="int32"),
                    "sum_r": pd.Series(rows["sum_r"], dtype="int64"),
                    "sum_g": pd.Series(rows["sum_g"], dtype="int64"),
                    "sum_b": pd.Series(rows["sum_b"], dtype="int64"),
                }
            )

    return media.select("media_id", "content").mapInPandas(stats, DOWNSAMPLE_SCHEMA)


# Ship this module's functions to Python workers by value, as the
# mapInPandas closures that call them are (see operators/kernels.py).
cloudpickle.register_pickle_by_value(sys.modules[__name__])
