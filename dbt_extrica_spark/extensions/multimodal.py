"""[EXTENSION] Multimodal column plumbing: image/audio/video as opaque
``binary`` columns with typed metadata.

The Spark-side machinery — schema, partition-preserving mapInPandas, Arrow
batch shape, deterministic outputs — is real and tested. IMAGE decode is
REAL for binary PPM/PGM, 24-bit BMP, 8-bit PNG AND baseline JPEG via
pure numpy (:func:`decode_image_numpy`; PNG = stdlib zlib + per-row
unfilter, JPEG = stream-table Huffman + 8x8 IDCT per ITU T.81 in
jpeg.py), with nearest-neighbor resize + PPM re-encode
(:func:`resize_images`). Remaining codec-gated formats (progressive
JPEG, lossy audio like MP3) sit behind an import-try gate: PIL/soundfile
when present, a clearly-marked deterministic fake otherwise — swap in a
real codec on a cluster with the libs installed; the Spark plumbing does
not change.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("kind", T.StringType(), False),        # image|audio|video
    T.StructField("content", T.BinaryType(), True),       # opaque bytes
    T.StructField("mime", T.StringType(), True),
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
    T.StructField("duration_ms", T.LongType(), True),
])

_FEATURE_SCHEMA = (
    "media_id bigint, kind string, n_bytes bigint, sha bigint, "
    "feature array<float>, decoded boolean"
)


def _crc32(content: bytes) -> int:
    """Deterministic content id (Python hash() is salted per process)."""
    import zlib

    return zlib.crc32(content) & 0x7FFFFFFF


def _try_real_image_decode(content: bytes):
    """Real decode when PIL exists; None otherwise (import-try gate)."""
    try:
        import io

        from PIL import Image  # noqa: F401

        return Image.open(io.BytesIO(content))
    except Exception:
        return None


# --------------------------------------------------------------------------
# REAL pure-numpy decode for uncompressed formats (no codec libs needed)
# --------------------------------------------------------------------------

def _ppm_tokens(content: bytes, n: int, start: int) -> tuple[list[int], int]:
    """Read ``n`` whitespace-separated ASCII ints from a PNM header,
    honoring '#' comments; returns (values, next_offset)."""
    vals: list[int] = []
    i = start
    while len(vals) < n and i < len(content):
        c = content[i]
        if c == 0x23:  # '#' comment to end of line
            while i < len(content) and content[i] not in (0x0A, 0x0D):
                i += 1
        elif c in (0x20, 0x09, 0x0A, 0x0D, 0x0B, 0x0C):
            i += 1
        else:
            j = i
            while j < len(content) and 0x30 <= content[j] <= 0x39:
                j += 1
            if j == i:
                raise ValueError("malformed PNM header")
            vals.append(int(content[i:j]))
            i = j
    if len(vals) < n:
        raise ValueError("truncated PNM header")
    return vals, i


def decode_image_numpy(content: bytes):
    """REAL image decode for every format a codec-less container can
    still handle exactly — pure numpy, no PIL:

    - PPM ``P6`` (binary RGB, maxval <= 255) -> (h, w, 3) uint8
    - PGM ``P5`` (binary grayscale)          -> (h, w) uint8
    - BMP 24-bit uncompressed BI_RGB         -> (h, w, 3) uint8
      (bottom-up rows flipped, BGR -> RGB, 4-byte row padding stripped)
    - PNG 8-bit gray/RGB/palette/gray+alpha/RGBA, non-interlaced
      (:func:`decode_png_numpy` — stdlib zlib + per-row unfilter)
    - JPEG, 8-bit gray/YCbCr, sampling factors up to 2x2, restart
      markers — BOTH baseline (SOF0/1) and progressive (SOF2: spectral
      selection + successive approximation, EOBRUN, AC refinement)
      (jpeg.decode_jpeg_numpy — Huffman + IDCT in numpy per ITU T.81)
    - GIF87a/89a first frame composed to RGB (gif.decode_gif_numpy —
      LZW, palettes, interlace, transparency/disposal)
    - TIFF 8-bit gray/RGB, strip-organized, II/MM byte order,
      compression none or PackBits (:func:`decode_tiff_numpy`)

    Returns None for anything else (arithmetic/lossless JPEG and exotic
    profiles decline rather than guess). No decode in this container is
    env-blocked anymore; the PIL import-try remains only as an optional
    fast path for profiles outside this set."""
    import numpy as np

    if len(content) < 2:
        return None
    if content.startswith(_PNG_SIG):
        return decode_png_numpy(content)
    if content[:2] == b"\xff\xd8":
        from .jpeg import decode_jpeg_numpy

        return decode_jpeg_numpy(content)
    if content[:6] in (b"GIF87a", b"GIF89a"):
        from .gif import decode_gif_numpy

        return decode_gif_numpy(content)
    if content[:4] in (b"II*\x00", b"MM\x00*"):
        return decode_tiff_numpy(content)
    if content[:2] in (b"P6", b"P5"):
        gray = content[:2] == b"P5"
        try:
            (w, h, maxval), off = _ppm_tokens(content, 3, 2)
        except ValueError:
            return None
        if maxval > 255 or w <= 0 or h <= 0:
            return None
        # exactly ONE whitespace byte after maxval (PNM spec) — but
        # VERIFY it: a writer that emitted \r\n here would otherwise
        # decode silently with every pixel shifted by one byte. A \r
        # followed by \n is ambiguous (the \n could be the first pixel
        # of a spec-valid lone-\r file): treat it as a CRLF pair ONLY
        # when the lone-\r reading leaves the wrong byte count and the
        # pair reading leaves exactly the pixel payload — spec-valid
        # files always win, exact-length DOS-mode files still decode,
        # and the irreducibly ambiguous slack case follows the spec.
        if off >= len(content) or content[off] not in (
                0x20, 0x09, 0x0A, 0x0D, 0x0B, 0x0C):
            return None
        ch = 1 if gray else 3
        need = w * h * ch
        if (content[off] == 0x0D and off + 1 < len(content)
                and content[off + 1] == 0x0A
                and len(content) - (off + 2) == need):
            off += 1
        off += 1
        if len(content) - off < need:
            return None
        arr = np.frombuffer(content, dtype=np.uint8,
                            count=need, offset=off)
        return arr.reshape((h, w) if gray else (h, w, ch)).copy()
    if content[:2] == b"BM" and len(content) >= 54:
        off = int.from_bytes(content[10:14], "little")
        w = int.from_bytes(content[18:22], "little", signed=True)
        h = int.from_bytes(content[22:26], "little", signed=True)
        bpp = int.from_bytes(content[28:30], "little")
        comp = int.from_bytes(content[30:34], "little")
        if bpp != 24 or comp != 0 or w <= 0 or h == 0:
            return None
        flip = h > 0
        h = abs(h)
        row = (w * 3 + 3) // 4 * 4
        if len(content) - off < row * h:
            return None
        arr = np.frombuffer(content, dtype=np.uint8, count=row * h,
                            offset=off).reshape(h, row)
        px = arr[:, :w * 3].reshape(h, w, 3)[:, :, ::-1]  # BGR -> RGB
        if flip:
            px = px[::-1]
        return px.copy()
    return None


def decode_audio_numpy(content: bytes):
    """REAL audio decode for uncompressed PCM WAV — pure numpy, no
    soundfile: walks the RIFF chunk list, accepts fmt audio_format=1
    (PCM) at 8 / 16 / 24 / 32 bits per sample, and returns ``(samples,
    sample_rate)`` with samples shaped (n_frames, channels):
    int16 for 16-bit (reinterpreted in place); int16 for 8-bit
    (UNSIGNED per the WAV spec, recentered to signed and scaled <<8 so
    every depth shares the int16-compatible range semantics of
    audio_stats); int32 for 24-bit (3-byte little-endian assembled with
    sign extension) and 32-bit. Returns None for anything else —
    compressed codecs stay behind the documented import-try stub."""
    import numpy as np

    if len(content) < 44 or content[:4] != b"RIFF" or content[8:12] != b"WAVE":
        return None
    pos = 12
    fmt = None
    data = None
    while pos + 8 <= len(content):
        cid = content[pos:pos + 4]
        size = int.from_bytes(content[pos + 4:pos + 8], "little")
        body = content[pos + 8:pos + 8 + size]
        if cid == b"fmt " and len(body) >= 16:
            fmt = (
                int.from_bytes(body[0:2], "little"),    # audio_format
                int.from_bytes(body[2:4], "little"),    # channels
                int.from_bytes(body[4:8], "little"),    # sample_rate
                int.from_bytes(body[14:16], "little"),  # bits/sample
            )
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        return None
    audio_format, channels, rate, bits = fmt
    if audio_format != 1 or bits not in (8, 16, 24, 32) or channels < 1:
        return None
    bps = bits // 8
    n = len(data) // (bps * channels)
    if n == 0:
        return None
    count = n * channels
    if bits == 16:
        samples = np.frombuffer(data, dtype="<i2", count=count)
    elif bits == 8:
        # 8-bit WAV is UNSIGNED, midpoint 128; recenter and scale to the
        # int16 range so downstream stats mean the same thing per depth
        raw = np.frombuffer(data, dtype=np.uint8, count=count)
        samples = ((raw.astype(np.int16) - 128) << 8)
    elif bits == 24:
        raw = np.frombuffer(data, dtype=np.uint8,
                            count=count * 3).reshape(count, 3)
        val = (raw[:, 0].astype(np.int32)
               | (raw[:, 1].astype(np.int32) << 8)
               | (raw[:, 2].astype(np.int32) << 16))
        samples = np.where(val & 0x800000, val - (1 << 24), val) \
            .astype(np.int32)
    else:  # 32
        samples = np.frombuffer(data, dtype="<i4", count=count)
    return samples.reshape(n, channels).copy(), rate


def encode_wav(samples, rate: int = 16000, bits: int = 16) -> bytes:
    """Encode an (n,) or (n, channels) integer array as PCM WAV — the
    round-trip partner of :func:`decode_audio_numpy`. ``bits``: 16
    (int16 input, default), 8 (input is SIGNED int16-scaled values as
    decode returns them — stored as unsigned bytes per spec), 24
    (int32 input within ±2^23), 32 (int32 input)."""
    import numpy as np

    s = np.asarray(samples)
    if s.ndim == 1:
        s = s[:, None]
    n, ch = s.shape
    if bits == 16:
        data = s.astype("<i2").tobytes()
    elif bits == 8:
        data = ((s.astype(np.int32) >> 8) + 128).astype(np.uint8).tobytes()
    elif bits == 24:
        v = s.astype(np.int64)
        if v.size and (int(v.max()) >= 1 << 23
                       or int(v.min()) < -(1 << 23)):
            raise ValueError(
                "24-bit WAV samples must fit [-2^23, 2^23 - 1]")
        u = np.where(v < 0, v + (1 << 24), v).astype(np.uint32)
        flat = u.reshape(-1)
        data = np.stack([flat & 0xFF, (flat >> 8) & 0xFF,
                         (flat >> 16) & 0xFF], axis=1) \
            .astype(np.uint8).tobytes()
    elif bits == 32:
        data = s.astype("<i4").tobytes()
    else:
        raise ValueError("bits must be 8, 16, 24 or 32")
    block = ch * (bits // 8)
    fmt = ((1).to_bytes(2, "little") + ch.to_bytes(2, "little")
           + rate.to_bytes(4, "little")
           + (rate * block).to_bytes(4, "little")
           + block.to_bytes(2, "little") + bits.to_bytes(2, "little"))
    body = (b"fmt " + (16).to_bytes(4, "little") + fmt
            + b"data" + len(data).to_bytes(4, "little") + data)
    return (b"RIFF" + (4 + len(body)).to_bytes(4, "little") + b"WAVE"
            + body)


# Y4M chroma subsampling -> (x divisor, y divisor) for the U/V planes
_Y4M_CHROMA = {"420": (2, 2), "422": (2, 1), "444": (1, 1)}


def decode_video_numpy(content: bytes):
    """REAL video decode for the uncompressed Y4M (YUV4MPEG2) container
    — pure numpy, no codec: parses the stream header (W/H/C tags;
    4:2:0 / 4:2:2 / 4:4:4 subsampling), then splits FRAME sections into
    (Y, U, V) planes. Returns ``(frames, width, height)`` where frames
    is a list of ``(y, u, v)`` uint8 arrays — y is (h, w), u/v are
    (h//cy, w//cx) per the stream's chroma mode. Returns None for
    anything else (other colorspaces, mono, malformed) — decline,
    never guess."""
    import numpy as np

    magic = b"YUV4MPEG2 "
    if not content.startswith(magic):
        return None
    nl = content.find(b"\n")
    if nl < 0:
        return None
    w = h = None
    chroma = "420"
    # a corrupted header tag is malformed input, not a crash: the
    # totality contract (one corrupt blob must not abort a mapInPandas
    # partition) — hypothesis found int(b'16!H16') raising here
    try:
        for tag in content[len(magic):nl].split(b" "):
            if tag[:1] == b"W":
                w = int(tag[1:])
            elif tag[:1] == b"H":
                h = int(tag[1:])
            elif tag[:1] == b"C":
                chroma = tag[1:].decode()
    except (ValueError, UnicodeDecodeError):
        return None
    if w is not None and (w < 1 or w > 1 << 20):
        return None
    if h is not None and (h < 1 or h > 1 << 20):
        return None
    # C420 variants (jpeg/paldv/mpeg2) share the plane layout; C422/C444
    # must match exactly
    base = "420" if chroma.startswith("420") else chroma
    div = _Y4M_CHROMA.get(base)
    if not w or not h or div is None:
        return None
    cx, cy = div
    if w % cx or h % cy:
        return None
    ysz, csz = w * h, (w // cx) * (h // cy)
    frame_bytes = ysz + 2 * csz
    frames = []
    pos = nl + 1
    while pos < len(content):
        if content[pos:pos + 5] != b"FRAME":
            return None
        fnl = content.find(b"\n", pos)
        if fnl < 0 or len(content) - (fnl + 1) < frame_bytes:
            return None
        buf = content[fnl + 1:fnl + 1 + frame_bytes]
        y = np.frombuffer(buf, np.uint8, ysz).reshape(h, w)
        u = np.frombuffer(buf, np.uint8, csz, ysz).reshape(
            h // cy, w // cx)
        v = np.frombuffer(buf, np.uint8, csz, ysz + csz).reshape(
            h // cy, w // cx)
        frames.append((y.copy(), u.copy(), v.copy()))
        pos = fnl + 1 + frame_bytes
    if not frames:
        return None
    return frames, w, h


def encode_y4m(frames, width: int, height: int,
               chroma: str = "420") -> bytes:
    """Encode a list of (y, u, v) uint8 plane tuples as Y4M (C420 /
    C422 / C444 — plane shapes must match the chosen mode) — the
    round-trip partner of :func:`decode_video_numpy`."""
    import numpy as np

    if chroma not in _Y4M_CHROMA:
        raise ValueError("chroma must be one of " + str(sorted(_Y4M_CHROMA)))
    out = [f"YUV4MPEG2 W{width} H{height} F25:1 Ip A1:1"
           f" C{chroma}\n".encode()]
    for y, u, v in frames:
        out.append(b"FRAME\n")
        out.append(np.asarray(y, np.uint8).tobytes())
        out.append(np.asarray(u, np.uint8).tobytes())
        out.append(np.asarray(v, np.uint8).tobytes())
    return b"".join(out)


def _packbits_decode(data: bytes, expect: int):
    """Apple PackBits RLE (TIFF compression 32773): returns exactly
    ``expect`` bytes or None."""
    out = bytearray()
    i = 0
    n = len(data)
    while i < n and len(out) < expect:
        c = data[i]
        i += 1
        if c < 128:                      # literal run of c+1 bytes
            if i + c + 1 > n:
                return None
            out += data[i:i + c + 1]
            i += c + 1
        elif c > 128:                    # repeat next byte 257-c times
            if i >= n:
                return None
            out += bytes([data[i]]) * (257 - c)
            i += 1
        # c == 128: no-op
    return bytes(out[:expect]) if len(out) >= expect else None


def _packbits_encode(data: bytes) -> bytes:
    """PackBits encoder (row-at-a-time per the TIFF recommendation is the
    caller's concern; this encodes one buffer)."""
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        # find a run
        j = i
        while j + 1 < n and data[j + 1] == data[j] and j - i < 127:
            j += 1
        if j > i:  # run of length j-i+1 >= 2
            out.append(257 - (j - i + 1))
            out.append(data[i])
            i = j + 1
            continue
        # literal: until the next run of >= 3 or 128 bytes
        j = i
        while j < n and j - i < 128:
            if j + 2 < n and data[j] == data[j + 1] == data[j + 2]:
                break
            j += 1
        out.append(j - i - 1)
        out += data[i:j]
        i = j
    return bytes(out)


def decode_tiff_numpy(content: bytes):
    """REAL TIFF decode — pure numpy: both byte orders (II/MM), 8-bit
    gray (MinIsBlack/MinIsWhite — the latter inverted) and RGB, chunky
    planar config, strip organization, compression none (1) or PackBits
    (32773). Returns (h, w) or (h, w, 3) uint8; None outside the
    profile (tiles, LZW/JPEG-in-TIFF, 16-bit, palette) — decline, never
    guess."""
    import numpy as np

    if len(content) < 8:
        return None
    if content[:4] == b"II*\x00":
        bo = "little"
    elif content[:4] == b"MM\x00*":
        bo = "big"
    else:
        return None

    def rd(off, size):
        return int.from_bytes(content[off:off + size], bo)

    type_size = {1: 1, 2: 1, 3: 2, 4: 4}

    def entry_values(pos):
        tag = rd(pos, 2)
        typ = rd(pos + 2, 2)
        cnt = rd(pos + 4, 4)
        sz = type_size.get(typ)
        if sz is None:
            return tag, None
        total = sz * cnt
        off = pos + 8 if total <= 4 else rd(pos + 8, 4)
        if off + total > len(content):
            return tag, None
        return tag, [rd(off + k * sz, sz) for k in range(cnt)]

    try:
        ifd = rd(4, 4)
        n_entries = rd(ifd, 2)
        tags = {}
        for e in range(n_entries):
            tag, vals = entry_values(ifd + 2 + 12 * e)
            if vals is not None:
                tags[tag] = vals
        w = tags.get(256, [0])[0]
        h = tags.get(257, [0])[0]
        bits = tags.get(258, [8])
        comp = tags.get(259, [1])[0]
        photo = tags.get(262, [1])[0]
        offsets = tags.get(273)
        spp = tags.get(277, [1])[0]
        rows_per_strip = tags.get(278, [h])[0]
        counts = tags.get(279)
        planar = tags.get(284, [1])[0]
    except (IndexError, ValueError):
        return None
    if (not w or not h or offsets is None or counts is None
            or len(offsets) != len(counts) or planar != 1
            or comp not in (1, 32773) or any(b != 8 for b in bits)
            or spp not in (1, 3) or photo not in (0, 1, 2)
            or (photo == 2) != (spp == 3) or rows_per_strip == 0):
        return None
    data = bytearray()
    remaining_rows = h
    for off, cnt in zip(offsets, counts):
        if off + cnt > len(content):
            return None
        strip_rows = min(rows_per_strip, remaining_rows)
        expect = strip_rows * w * spp
        raw = content[off:off + cnt]
        if comp == 32773:
            raw = _packbits_decode(raw, expect)
            if raw is None:
                return None
        elif len(raw) < expect:
            return None
        data += raw[:expect]
        remaining_rows -= strip_rows
    if remaining_rows > 0:
        return None
    arr = np.frombuffer(bytes(data), dtype=np.uint8,
                        count=h * w * spp)
    px = arr.reshape((h, w) if spp == 1 else (h, w, 3)).copy()
    if photo == 0:  # MinIsWhite
        px = (255 - px.astype(np.int16)).astype(np.uint8)
    return px


def encode_tiff(pixels, packbits: bool = False,
                rows_per_strip: int | None = None,
                big_endian: bool = False) -> bytes:
    """Encode a uint8 (h, w) gray or (h, w, 3) RGB array as a real TIFF
    (II or MM, strip-organized, compression none or PackBits) — the
    round-trip partner of :func:`decode_tiff_numpy`; lossless, so
    round-trips are bit-exact."""
    import numpy as np

    px = np.asarray(pixels, dtype=np.uint8)
    gray = px.ndim == 2
    h, w = px.shape[:2]
    spp = 1 if gray else 3
    rps = rows_per_strip or h
    bo = "big" if big_endian else "little"

    strips = []
    for y0 in range(0, h, rps):
        raw = px[y0:y0 + rps].tobytes()
        strips.append(_packbits_encode(raw) if packbits else raw)

    n_strips = len(strips)
    entries = []  # (tag, type, count, value_or_bytes)

    def short(v):
        return (3, 1, v)

    def longv(v):
        return (4, 1, v)

    header = bytearray(b"MM\x00*" if big_endian else b"II*\x00")
    # layout: header(8) + IFD + value arrays + strip data
    tag_list = [
        (256, *longv(w)), (257, *longv(h)), (258, *short(8)),
        (259, *short(32773 if packbits else 1)),
        (262, *short(1 if gray else 2)),
        (273, 4, n_strips, None),          # strip offsets (patched)
        (277, *short(spp)), (278, *longv(rps)),
        (279, 4, n_strips, [len(s) for s in strips]),
        (284, *short(1)),
    ]
    if not gray:
        tag_list[2] = (258, 3, 3, [8, 8, 8])
    ifd_at = 8
    ifd_size = 2 + 12 * len(tag_list) + 4
    extra_at = ifd_at + ifd_size
    extra = bytearray()

    def value_field(typ, cnt, val):
        sz = {3: 2, 4: 4}[typ]
        vals = val if isinstance(val, list) else [val]
        blob = b"".join(v.to_bytes(sz, bo) for v in vals)
        if len(blob) <= 4:
            return blob + b"\x00" * (4 - len(blob))
        off = extra_at + len(extra)
        extra.extend(blob)
        return off.to_bytes(4, bo)

    # first pass to learn extra-block length for strip offsets
    provisional = bytearray()
    for tag, typ, cnt, val in tag_list:
        if val is None:
            val = [0] * cnt
        provisional += tag.to_bytes(2, bo) + typ.to_bytes(2, bo) \
            + cnt.to_bytes(4, bo) + value_field(typ, cnt, val)
    data_at = extra_at + len(extra)
    offsets = []
    pos = data_at
    for s in strips:
        offsets.append(pos)
        pos += len(s)
    # rebuild with real offsets (extra block layout is identical because
    # the offsets array has the same size as the zero placeholder)
    extra = bytearray()
    body = bytearray()
    for tag, typ, cnt, val in tag_list:
        if val is None:
            val = offsets
        body += tag.to_bytes(2, bo) + typ.to_bytes(2, bo) \
            + cnt.to_bytes(4, bo) + value_field(typ, cnt, val)
    out = header + ifd_at.to_bytes(4, bo)
    out += len(tag_list).to_bytes(2, bo) + body + (0).to_bytes(4, bo)
    out += extra
    for s in strips:
        out += s
    return bytes(out)


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def decode_png_numpy(content: bytes):
    """REAL PNG decode with stdlib zlib + numpy — no PIL. The dominant
    web/image-corpus format needs no codec library at all: IDAT is zlib
    (RFC 1950) and the rest is per-row unfiltering, both expressible
    exactly in numpy.

    Supported: 8-bit depth, color types 0 (gray -> (h, w)), 2 (RGB),
    3 (palette -> expanded RGB), 4 (gray+alpha), 6 (RGBA), interlace 0,
    all five filter types (None/Sub/Up/Average/Paeth). Chunk CRCs are
    VERIFIED (a silently corrupted IDAT must decline, not mis-decode).
    Returns None for anything else (16-bit, Adam7, malformed) — decline,
    never guess.

    Unfilter cost: Sub is a per-lane cumsum (vectorized), Up a
    vectorized add; Average/Paeth carry an x-sequential recursion, done
    in a per-pixel loop over the row — O(w) Python steps per filtered
    row, acceptable inside an Arrow-batched mapInPandas where each
    worker decodes its own partition's blobs."""
    import zlib

    import numpy as np

    if not content.startswith(_PNG_SIG):
        return None
    pos, n = len(_PNG_SIG), len(content)
    ihdr = None
    plte = None
    idat = bytearray()
    while pos + 8 <= n:
        length = int.from_bytes(content[pos:pos + 4], "big")
        ctype = content[pos + 4:pos + 8]
        data = content[pos + 8:pos + 8 + length]
        if len(data) < length or pos + 12 + length > n:
            return None  # truncated chunk
        crc = int.from_bytes(content[pos + 8 + length:pos + 12 + length],
                             "big")
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            return None  # corrupted chunk must decline, not mis-decode
        if ctype == b"IHDR":
            ihdr = data
        elif ctype == b"PLTE":
            plte = data
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if ihdr is None or len(ihdr) != 13 or not idat:
        return None
    w = int.from_bytes(ihdr[0:4], "big")
    h = int.from_bytes(ihdr[4:8], "big")
    depth, color, comp, filt, interlace = ihdr[8:13]
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color)
    if (depth != 8 or channels is None or comp != 0 or filt != 0
            or interlace != 0 or w <= 0 or h <= 0):
        return None
    if color == 3 and (plte is None or len(plte) % 3):
        return None
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error:
        return None
    stride = w * channels
    if len(raw) != h * (stride + 1):
        return None
    rows = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride + 1)
    filters = rows[:, 0]
    data = rows[:, 1:].astype(np.int16)  # headroom for the mod-256 adds
    bpp = channels
    out = np.zeros((h, stride), dtype=np.uint8)
    for y in range(h):
        f = filters[y]
        cur = data[y]
        prior = out[y - 1].astype(np.int16) if y > 0 else \
            np.zeros(stride, dtype=np.int16)
        if f == 0:  # None
            rec = cur
        elif f == 1:  # Sub: recon[x] = raw[x] + recon[x-bpp] -> lane cumsum
            rec = cur.copy()
            for lane in range(bpp):
                # int64 accumulator: an int16 cumsum overflows past ~128
                # pixels of 0xFF
                rec[lane::bpp] = np.cumsum(cur[lane::bpp],
                                           dtype=np.int64) % 256
        elif f == 2:  # Up
            rec = cur + prior
        elif f in (3, 4):  # Average / Paeth — x-sequential recursions;
            # plain-list arithmetic: numpy scalar indexing in this loop
            # measured ~4x slower (256px corpus)
            cur_l = cur.tolist()
            prior_l = prior.tolist()
            rec_l = [0] * stride
            if f == 3:
                for x in range(stride):
                    left = rec_l[x - bpp] if x >= bpp else 0
                    rec_l[x] = (cur_l[x] + (left + prior_l[x]) // 2) % 256
            else:
                for x in range(stride):
                    a = rec_l[x - bpp] if x >= bpp else 0
                    b = prior_l[x]
                    c = prior_l[x - bpp] if x >= bpp else 0
                    p = a + b - c
                    pa = p - a if p >= a else a - p
                    pb = p - b if p >= b else b - p
                    pc = p - c if p >= c else c - p
                    pred = a if (pa <= pb and pa <= pc) else \
                        (b if pb <= pc else c)
                    rec_l[x] = (cur_l[x] + pred) % 256
            rec = np.asarray(rec_l, dtype=np.int16)
        else:
            return None
        out[y] = rec % 256
    px = out.reshape(h, w, channels)
    if color == 3:
        pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
        idx = px[:, :, 0]
        if int(idx.max(initial=0)) >= pal.shape[0]:
            return None
        return pal[idx].copy()
    if channels == 1:
        return px[:, :, 0].copy()
    return px.copy()


def encode_png(pixels, filter_mode: str = "cycle") -> bytes:
    """Encode a uint8 array ((h, w) gray, (h, w, 2) gray+alpha, (h, w, 3)
    RGB, (h, w, 4) RGBA) as a real PNG — the round-trip partner of
    :func:`decode_png_numpy` and the fixture generator for its tests.
    ``filter_mode``: "none" writes filter 0 rows; "cycle" (default)
    cycles filter type y % 5 per row so every decoder branch
    (None/Sub/Up/Average/Paeth) is exercised by any multi-row image."""
    import zlib

    import numpy as np

    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim == 2:
        px = px[:, :, None]
    h, w, channels = px.shape
    color = {1: 0, 2: 4, 3: 2, 4: 6}[channels]
    bpp = channels
    flat = px.reshape(h, w * channels).astype(np.int16)
    stream = bytearray()
    for y in range(h):
        f = 0 if filter_mode == "none" else y % 5
        cur = flat[y]
        prior = flat[y - 1] if y > 0 else np.zeros_like(cur)
        if f == 0:
            enc = cur
        elif f == 1:
            left = np.zeros_like(cur)
            left[bpp:] = cur[:-bpp]
            enc = (cur - left) % 256
        elif f == 2:
            enc = (cur - prior) % 256
        elif f == 3:
            left = np.zeros_like(cur)
            left[bpp:] = cur[:-bpp]
            enc = (cur - (left + prior) // 2) % 256
        else:  # Paeth predictor
            left = np.zeros_like(cur)
            left[bpp:] = cur[:-bpp]
            ul = np.zeros_like(cur)
            ul[bpp:] = prior[:-bpp]
            p = left + prior - ul
            pa, pb, pc = (np.abs(p - left), np.abs(p - prior),
                          np.abs(p - ul))
            pred = np.where((pa <= pb) & (pa <= pc), left,
                            np.where(pb <= pc, prior, ul))
            enc = (cur - pred) % 256
        stream.append(f)
        stream += enc.astype(np.uint8).tobytes()

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (len(data).to_bytes(4, "big") + ctype + data
                + (zlib.crc32(ctype + data) & 0xFFFFFFFF)
                .to_bytes(4, "big"))

    ihdr = (w.to_bytes(4, "big") + h.to_bytes(4, "big")
            + bytes([8, color, 0, 0, 0]))
    return (_PNG_SIG + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(stream), 6))
            + chunk(b"IEND", b""))


def encode_ppm(pixels) -> bytes:
    """Encode an (h, w, 3) or (h, w) uint8 array as binary PPM/PGM —
    the round-trip partner of :func:`decode_image_numpy`."""
    import numpy as np

    px = np.asarray(pixels, dtype=np.uint8)
    gray = px.ndim == 2
    h, w = px.shape[:2]
    magic = b"P5" if gray else b"P6"
    return magic + f"\n{w} {h}\n255\n".encode() + px.tobytes()


def resize_nearest(pixels, width: int, height: int):
    """Deterministic nearest-neighbor resize (pure numpy index map —
    floor(target * src / dst), PIL-free and engine-reproducible)."""
    import numpy as np

    px = np.asarray(pixels)
    src_h, src_w = px.shape[:2]
    ys = (np.arange(height) * src_h) // height
    xs = (np.arange(width) * src_w) // width
    return px[ys][:, xs].copy()


def _fake_feature(content: bytes, dims: int = 8) -> list[float]:
    """DETERMINISTIC FAKE feature vector (stub for a real extractor): byte
    histogram moments seeded by content. Stable across runs and partitions."""
    if not content:
        return [0.0] * dims
    acc = []
    n = len(content)
    for d in range(dims):
        s = sum(content[d::dims][:256]) if n > d else 0
        acc.append(float(s % 997) / 997.0)
    return acc


def synthetic_media_rows(n: int = 64, kind: str = "image",
                         near_dups: int = 0) -> list:
    """Deterministic fake media rows (closed formula — the same generator
    feeds the Spark table and the local ground-truth oracles). With
    ``near_dups`` > 0, the first ``near_dups`` rows get a near-duplicate
    twin at media_id + 1000 whose content differs in exactly one byte —
    planted positives for perceptual dedup."""
    rows = []
    for i in range(n):
        content = bytes((i * 31 + j * 7) % 256 for j in range(128 + i))
        rows.append((i, kind, content, f"{kind}/fake", 64, 64, 1000 + i))
    for i in range(min(near_dups, n)):
        content = bytearray(rows[i][2])
        content[0] = (content[0] + 1) % 256
        rows.append((i + 1000, kind, bytes(content), f"{kind}/fake",
                     64, 64, 1000 + i))
    return rows


def synthetic_media(spark, n: int = 64, kind: str = "image",
                    near_dups: int = 0) -> DataFrame:
    """Deterministic fake media table for tests (no codec libs in env)."""
    return spark.createDataFrame(
        synthetic_media_rows(n, kind, near_dups), MEDIA_SCHEMA)


def extract_features(df: DataFrame, batch_hint: int = 1024) -> DataFrame:
    """Decode + featurize media via mapInPandas (Arrow-batched; one Python
    worker pass per partition — the pattern a real decoder would use).

    The decode step is STUBBED with a deterministic fake when codec libs are
    absent; the schema contract and batch shape are production-real."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pd.DataFrame({
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "n_bytes": pdf["content"].map(
                    lambda b: len(b) if b is not None else 0
                ),
                "sha": pdf["content"].map(
                    lambda b: _crc32(bytes(b)) if b is not None else 0
                ),
                "feature": pdf["content"].map(
                    lambda b: _fake_feature(bytes(b)) if b is not None else []
                ),
                "decoded": pdf["content"].map(
                    lambda b: (_try_real_image_decode(bytes(b)) is not None
                               or decode_image_numpy(bytes(b)) is not None)
                    if b is not None else False
                ),
            })
            yield out

    return df.mapInPandas(run, schema=_FEATURE_SCHEMA)


def resize_images(df: DataFrame, width: int, height: int,
                  on_undecodable: str = "skip") -> DataFrame:
    """REAL resize for decodable content: decode (PIL if present, else
    the pure-numpy PPM/PGM/BMP path), nearest-neighbor resize, re-encode
    as binary PPM/PGM — content, mime, width and height all updated, and
    a ``decoded`` boolean appended.

    ``on_undecodable`` picks the failure mode for rows no available
    decoder handles (compressed formats without PIL — the only remaining
    env-blocked branch): ``"skip"`` (default) passes the row through
    unmodified with ``decoded=false`` so one opaque blob cannot abort a
    corpus-wide resize job; ``"error"`` raises NotImplementedError (the
    old strict behavior — opt in when silent passthrough would corrupt
    a dataset that assumes uniform dimensions). Plumbing
    (mapInPandas/schema/partitioning) is the production shape either
    way.

    API CHANGE (r9, deliberate): the output schema is input schema +
    the appended ``decoded`` boolean — it is NO LONGER equal to the
    input schema. Callers that chain resize_images twice or union the
    result with the source frame must drop ``decoded`` first (call
    sites inside this repo already do)."""
    if on_undecodable not in ("skip", "error"):
        raise ValueError("on_undecodable must be 'skip' or 'error'")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def one(b):
            if b is None:
                return None, None, False
            content = bytes(b)
            px = decode_image_numpy(content)
            if px is None:
                img = _try_real_image_decode(content)
                if img is None:
                    if on_undecodable == "error":
                        raise NotImplementedError(
                            "resize of compressed formats requires PIL"
                            " (absent in this container); uncompressed"
                            " PPM/PGM/BMP resize is fully implemented"
                        )
                    return None, None, False
                import numpy as np

                px = np.asarray(img.convert("RGB"))
            out = resize_nearest(px, width, height)
            mime = "image/x-portable-graymap" if out.ndim == 2 else \
                "image/x-portable-pixmap"
            return encode_ppm(out), mime, True

        for pdf in batches:
            trips = pdf["content"].map(one)
            ok = list(trips.map(lambda t: t[2]))
            # skip mode passes undecodable rows through UNCHANGED
            # (original bytes/mime/dims), flagged decoded=false
            cols = dict(
                content=[t[0] if t[2] else c
                         for t, c in zip(trips, pdf["content"])],
                decoded=ok,
            )
            for name, new in (("mime", None), ("width", width),
                              ("height", height)):
                old = pdf[name] if name in pdf.columns else [None] * len(ok)
                cols[name] = [
                    (t[1] if name == "mime" else new) if o else prev
                    for t, o, prev in zip(trips, ok, old)
                ]
            yield pdf.assign(**cols)

    # copy the field list — StructType.add mutates in place, and
    # df.schema is the DataFrame's own cached object
    schema = T.StructType(list(df.schema.fields)
                          + [T.StructField("decoded", T.BooleanType())])
    return df.mapInPandas(run, schema=schema)


def synthetic_media_real(spark, n: int = 32, side: int = 16,
                         near_dups: int = 0, fmt: str = "ppm") -> DataFrame:
    """Deterministic media table whose content is REAL decodable image
    bytes (binary PPM P6; 24-bit BMP with ``fmt='bmp'``; real 8-bit RGB
    PNG with ``fmt='png'`` — filter types cycled per row so all five
    unfilter branches are under test) — TEXTURED
    pixel patterns (xor-mixed coordinates) seeded by media_id, so every
    decode assertion has a closed-formula oracle. ``near_dups`` plants
    one-PIXEL-edited twins at media_id + 1000 — under the real decode
    these hash IDENTICALLY (hamming 0) while distinct patterns sit at
    hamming >= ~18, so perceptual dedup has clean planted positives.
    (Textured, not smooth gradients: a smooth image's low-frequency DCT
    coefficients hover at the median and a median-threshold pHash flips
    ~26 bits on a one-pixel edit — measured before switching.)"""
    import numpy as np

    def pixels(i: int):
        y = np.arange(side)[:, None]
        x = np.arange(side)[None, :]
        r = ((x * 73) ^ (y * 151)) + i * 97
        g = ((x * 29) ^ (y * 47)) + i * 31
        b = ((x * 11) ^ (y * 199)) + i * 7
        return np.stack([r % 256, g % 256, b % 256],
                        axis=2).astype(np.uint8)

    def encode(px, i: int = 0) -> bytes:
        if fmt == "ppm":
            return encode_ppm(px)
        if fmt == "png":
            return encode_png(px)
        if fmt == "gif":
            from .gif import encode_gif

            return encode_gif(px)
        if fmt == "tiff":
            # PackBits + 4-row strips, endianness alternating per image:
            # the RLE path, strip reassembly AND both byte orders all sit
            # under the battery hash
            return encode_tiff(px, packbits=True, rows_per_strip=4,
                               big_endian=bool(i % 2))
        # minimal 24-bit BMP: 54-byte headers, bottom-up rows, BGR, padded
        h, w = px.shape[:2]
        row = (w * 3 + 3) // 4 * 4
        size = 54 + row * h
        header = (b"BM" + size.to_bytes(4, "little") + b"\x00" * 4
                  + (54).to_bytes(4, "little")
                  + (40).to_bytes(4, "little")
                  + w.to_bytes(4, "little") + h.to_bytes(4, "little")
                  + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
                  + b"\x00" * 24)
        body = bytearray()
        for yy in range(h - 1, -1, -1):
            rowb = px[yy, :, ::-1].tobytes()
            body += rowb + b"\x00" * (row - len(rowb))
        return header + bytes(body)

    mime = {"ppm": "image/x-portable-pixmap", "bmp": "image/bmp",
            "png": "image/png", "gif": "image/gif",
            "tiff": "image/tiff"}[fmt]
    rows = []
    for i in range(n):
        rows.append((i, "image", encode(pixels(i), i), mime, side,
                     side, 0))
    for i in range(min(near_dups, n)):
        px = pixels(i).copy()
        px[0, 0, 0] = (int(px[0, 0, 0]) + 16) % 256  # one-pixel edit
        rows.append((i + 1000, "image", encode(px, i), mime, side,
                     side, 0))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def synthetic_media_jpeg(spark, n: int = 24, side: int = 16,
                         color: bool = False,
                         progressive: bool = False) -> DataFrame:
    """Deterministic media table of REAL baseline-JPEG bytes — BLOCK-
    CONSTANT mosaics (8x8 blocks for gray, 16x16 for color 4:2:0), the
    one image family whose lossy round-trip is exactly predictable: the
    block-mean encoder drops no information, so decoded pixels follow a
    closed formula the oracle can state without running the codec
    (gray: identical values; color: jpeg.rgb_blockmean_roundtrip). Gray
    JPEGs have NO color transform — decode must be bit-exact.

    ``progressive=True`` (r10) encodes the SAME coefficients as a
    multi-scan SOF2 stream (DC successive approximation, spectral AC
    bands, AC refinement, EOBRUN) — identical decoded pixels, so the
    oracle formulas carry over unchanged while the bytes exercise the
    full progressive decode surface."""
    from .jpeg import encode_jpeg_blockmean, encode_jpeg_progressive_blockmean

    import numpy as np

    assert side % (16 if color else 8) == 0
    enc = (encode_jpeg_progressive_blockmean if progressive
           else encode_jpeg_blockmean)
    rows = []
    for i in range(n):
        px = _jpeg_fixture_pixels(i, side, color)
        content = enc(px, subsample="420" if color else "444")
        rows.append((i, "image", content, "image/jpeg", side, side, 0))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def jpeg_prog_ac_coefs(i: int, nby: int = 2, nbx: int = 2):
    """Deterministic SPARSE NONZERO-AC coefficient planes for the
    progressive-JPEG battery fixtures (natural order, all-ones quant).
    Zigzag positions span BOTH spectral bands of
    default_progressive_script (1,3,5 in band 1-5; 6,20,40,63 in band
    6-63) and the modular values cover odd magnitudes (correction bits
    on refinement) and magnitude 1 (newly-significant at Al=0), so the
    AC-refinement decode paths the DC-only blockmean fixtures never
    reach actually execute under the battery hash. Shared with the
    oracle, which applies jpeg.idct_pixels_ref — never the decoder."""
    import numpy as np

    from .jpeg import _ZIGZAG

    coefs = np.zeros((nby, nbx, 64), np.int64)
    for b in range(nby * nbx):
        by, bx = b // nbx, b % nbx
        coefs[by, bx, 0] = (((i * 97 + b * 53) % 256) - 128) * 8
        for p in (1, 3, 5, 6, 20, 40, 63):
            coefs[by, bx, _ZIGZAG[p]] = ((i * 31 + b * 17 + p * 7)
                                         % 29) - 14
    return coefs


def synthetic_media_jpeg_prog_ac(spark, n: int = 24,
                                 side: int = 16) -> DataFrame:
    """Progressive-JPEG fixtures with NONZERO AC coefficients: gray
    single-component SOF2 streams of jpeg_prog_ac_coefs through the
    default successive-approximation ladder, restart interval cycling
    0/1/2 per image so restarts in every scan type ride along. Expected
    pixels are jpeg.idct_pixels_ref(coefs) — a closed formula, not a
    decoder run."""
    from .jpeg import default_progressive_script, \
        encode_jpeg_progressive_coefs

    nb = side // 8
    rows = []
    for i in range(n):
        content = encode_jpeg_progressive_coefs(
            [jpeg_prog_ac_coefs(i, nb, nb)], side, side, [(1, 1)],
            default_progressive_script(1), restart_interval=i % 3)
        rows.append((i, "image", content, "image/jpeg", side, side, 0))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def _jpeg_fixture_pixels(i: int, side: int, color: bool):
    """The closed formula behind synthetic_media_jpeg — shared by the
    battery oracle (which never touches JPEG bytes)."""
    import numpy as np

    block = 16 if color else 8
    g = side // block
    y = np.arange(g)[:, None]
    x = np.arange(g)[None, :]
    if not color:
        vals = (((x * 73) ^ (y * 151)) + i * 97) % 256
        return np.repeat(np.repeat(vals.astype(np.uint8), block, axis=0),
                         block, axis=1)
    r = (((x * 73) ^ (y * 151)) + i * 97) % 256
    gr = (((x * 29) ^ (y * 47)) + i * 31) % 256
    b = (((x * 11) ^ (y * 199)) + i * 7) % 256
    px = np.stack([r, gr, b], axis=2).astype(np.uint8)
    return np.repeat(np.repeat(px, block, axis=0), block, axis=1)


_DECODE_SCHEMA = ("media_id bigint, width int, height int, channels int, "
                  "pixel_sum bigint, decoded boolean")


def decode_stats(df: DataFrame) -> DataFrame:
    """REAL per-image decode statistics via mapInPandas: pure-numpy
    decode of uncompressed PPM/PGM/BMP content into actual pixels, then
    exact integer stats — (media_id, width, height, channels,
    pixel_sum, decoded). pixel_sum is the sum of every sample value
    (int64-exact), so a single wrong pixel anywhere — padding handled
    wrong, rows unflipped, BGR unswapped — changes the value. Rows whose
    content isn't decodable report decoded=false with zero stats."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def one(b):
            if b is None:
                return (0, 0, 0, 0, False)
            px = decode_image_numpy(bytes(b))
            if px is None:
                return (0, 0, 0, 0, False)
            h, w = px.shape[:2]
            ch = 1 if px.ndim == 2 else int(px.shape[2])
            return (int(w), int(h), ch, int(px.astype("int64").sum()), True)

        for pdf in batches:
            vals = pdf["content"].map(one)
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "width": vals.map(lambda t: t[0]).astype("int32"),
                "height": vals.map(lambda t: t[1]).astype("int32"),
                "channels": vals.map(lambda t: t[2]).astype("int32"),
                "pixel_sum": vals.map(lambda t: t[3]).astype("int64"),
                "decoded": vals.map(lambda t: t[4]),
            })

    return df.select("media_id", "content").mapInPandas(
        run, schema=_DECODE_SCHEMA)


_AUDIO_SCHEMA = ("media_id bigint, sample_rate int, n_frames bigint, "
                 "channels int, abs_sum bigint, zero_crossings bigint, "
                 "decoded boolean")


def audio_stats(df: DataFrame) -> DataFrame:
    """REAL per-clip audio statistics via mapInPandas: pure-numpy PCM
    WAV decode into actual int16 samples, then exact integer stats —
    (media_id, sample_rate, n_frames, channels, abs_sum,
    zero_crossings, decoded). abs_sum (sum of |sample| over every
    channel) and zero_crossings (sign changes along channel 0) are
    int64-exact, so one wrong sample anywhere — chunk walking, word
    alignment, channel interleave — changes a value. Undecodable rows
    report decoded=false with zero stats."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def one(b):
            if b is None:
                return (0, 0, 0, 0, 0, False)
            out = decode_audio_numpy(bytes(b))
            if out is None:
                return (0, 0, 0, 0, 0, False)
            s, rate = out
            wide = s.astype(np.int64)
            c0 = wide[:, 0]
            zc = int(np.sum((c0[1:] >= 0) != (c0[:-1] >= 0)))
            return (int(rate), int(s.shape[0]), int(s.shape[1]),
                    int(np.abs(wide).sum()), zc, True)

        for pdf in batches:
            vals = pdf["content"].map(one)
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "sample_rate": vals.map(lambda t: t[0]).astype("int32"),
                "n_frames": vals.map(lambda t: t[1]).astype("int64"),
                "channels": vals.map(lambda t: t[2]).astype("int32"),
                "abs_sum": vals.map(lambda t: t[3]).astype("int64"),
                "zero_crossings": vals.map(lambda t: t[4]).astype("int64"),
                "decoded": vals.map(lambda t: t[5]),
            })

    return df.select("media_id", "content").mapInPandas(
        run, schema=_AUDIO_SCHEMA)


def synthetic_audio_real(spark, n: int = 16, frames: int = 480,
                         rate: int = 16000, stereo: bool = False,
                         bits: int = 16) -> DataFrame:
    """Deterministic media table whose content is REAL PCM WAV bytes —
    integer sawtooth waveforms seeded by media_id (closed formula, no
    libm floats), so decode assertions have exact oracles. Stereo adds a
    phase-shifted second channel. ``bits`` picks the PCM depth (16 or
    24 — the int16-range waveform values are exactly representable in
    both, so per-clip stats are depth-invariant)."""
    import numpy as np

    rows = []
    for i in range(n):
        t = np.arange(frames, dtype=np.int64)
        period = 20 + 3 * i
        saw = ((t % period) * 2000 // period) - 1000  # [-1000, 1000)
        ch0 = (saw * (i + 1)) % 30000 - 15000
        if stereo:
            ch1 = np.roll(ch0, period // 2)
            samples = np.stack([ch0, ch1], axis=1)
        else:
            samples = ch0
        dt = np.int16 if bits == 16 else np.int32
        content = encode_wav(samples.astype(dt), rate, bits=bits)
        rows.append((i, "audio", content, "audio/wav", 0, 0,
                     frames * 1000 // rate))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


_FRAME_SCHEMA = ("media_id bigint, frame_idx int, width int, height int, "
                 "y_sum bigint, uv_sum bigint")


def extract_frames(df: DataFrame, every_n: int = 1) -> DataFrame:
    """REAL frame extraction via mapInPandas: pure-numpy Y4M decode into
    actual YUV planes, one output row per SAMPLED frame (every_n) with
    exact integer luma/chroma sums — the distributed shape a real
    frame-level featurizer consumes (swap the stats projection for a
    vision-model batch; the decode and fan-out stay identical).
    Undecodable rows produce no frames (sample_frames remains the
    metadata-only planner for opaque content)."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": [], "frame_idx": [], "width": [],
                   "height": [], "y_sum": [], "uv_sum": []}
            for mid, b in zip(pdf["media_id"], pdf["content"]):
                if b is None:
                    continue
                dec = decode_video_numpy(bytes(b))
                if dec is None:
                    continue
                frames, w, h = dec
                for idx in range(0, len(frames), every_n):
                    y, u, v = frames[idx]
                    out["media_id"].append(mid)
                    out["frame_idx"].append(idx)
                    out["width"].append(w)
                    out["height"].append(h)
                    out["y_sum"].append(int(y.astype(np.int64).sum()))
                    out["uv_sum"].append(
                        int(u.astype(np.int64).sum()
                            + v.astype(np.int64).sum()))
            yield pd.DataFrame({
                "media_id": pd.Series(out["media_id"], dtype="int64"),
                "frame_idx": pd.Series(out["frame_idx"], dtype="int32"),
                "width": pd.Series(out["width"], dtype="int32"),
                "height": pd.Series(out["height"], dtype="int32"),
                "y_sum": pd.Series(out["y_sum"], dtype="int64"),
                "uv_sum": pd.Series(out["uv_sum"], dtype="int64"),
            })

    return df.select("media_id", "content").mapInPandas(
        run, schema=_FRAME_SCHEMA)


def synthetic_video_real(spark, n: int = 8, side: int = 8,
                         n_frames: int = 6) -> DataFrame:
    """Deterministic media table whose content is REAL Y4M video bytes —
    per-frame xor-textured luma planes seeded by (media_id, frame), so
    frame-level decode assertions have closed-formula oracles."""
    import numpy as np

    def planes(i: int, f: int):
        y = np.arange(side)[:, None]
        x = np.arange(side)[None, :]
        luma = (((x * 37) ^ (y * 89)) + f * 11 + i * 17) % 256
        half = side // 2
        u = np.full((half, half), (64 + f * 3 + i) % 256)
        v = np.full((half, half), (192 + f * 5 + i) % 256)
        return (luma.astype(np.uint8), u.astype(np.uint8),
                v.astype(np.uint8))

    rows = []
    for i in range(n):
        content = encode_y4m([planes(i, f) for f in range(n_frames)],
                             side, side)
        rows.append((i, "video", content, "video/x-yuv4mpeg", side, side,
                     n_frames * 40))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def tile_images(df: DataFrame, tile: int = 32) -> DataFrame:
    """Image tiling plumbing: emit (media_id, tile_x, tile_y, x0, y0, x1, y1)
    per tile from width/height metadata — the coordinate plan a real
    patch-extraction UDF consumes. Pure sequence+explode; no Python."""
    nx = F.expr(f"CAST(ceil(width / {tile}.0) AS INT)")
    ny = F.expr(f"CAST(ceil(height / {tile}.0) AS INT)")
    return (
        df.where(F.col("kind") == "image")
        .select(
            "media_id", "width", "height",
            F.explode(F.expr(
                f"flatten(transform(sequence(0, CAST(ceil(width / {tile}.0) AS INT) - 1),"
                f" tx -> transform(sequence(0, CAST(ceil(height / {tile}.0) AS INT) - 1),"
                f" ty -> named_struct('tx', tx, 'ty', ty))))"
            )).alias("t"),
        )
        .select(
            "media_id",
            F.col("t.tx").alias("tile_x"),
            F.col("t.ty").alias("tile_y"),
            (F.col("t.tx") * tile).alias("x0"),
            (F.col("t.ty") * tile).alias("y0"),
            F.least(F.col("t.tx") * tile + tile, F.col("width")).alias("x1"),
            F.least(F.col("t.ty") * tile + tile, F.col("height")).alias("y1"),
        )
    )


def chunk_audio(df: DataFrame, chunk_ms: int = 500,
                overlap_ms: int = 100) -> DataFrame:
    """Audio chunking plumbing: overlapping (start_ms, end_ms) windows from
    duration metadata — the segment plan a real resampler/AST model batch
    consumes. Stride = chunk - overlap; final partial chunk kept."""
    stride = chunk_ms - overlap_ms
    assert stride > 0, "overlap must be smaller than chunk"
    return (
        df.where(F.col("kind") == "audio")
        .select(
            "media_id", "duration_ms",
            F.explode(F.expr(
                f"sequence(0L, greatest(duration_ms - 1, 0L), {stride}L)"
            )).alias("start_ms"),
        )
        .select(
            "media_id", "start_ms",
            F.least(F.col("start_ms") + chunk_ms,
                    F.col("duration_ms")).alias("end_ms"),
        )
    )


def sample_frames(df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Frame-sampling plumbing for video rows: emits (media_id, frame_ts_ms)
    per sampled frame, computed from duration metadata — the real decoder
    would additionally attach frame bytes. JVM-side explode; no Python."""
    return (
        df.where(F.col("kind") == "video")
        .select(
            "media_id",
            F.explode(
                F.expr(f"sequence(0L, duration_ms, {int(every_ms)}L)")
            ).alias("frame_ts_ms"),
        )
    )


# --------------------------------------------------------------------------
# Perceptual-hash (pHash) image dedup
# --------------------------------------------------------------------------

_PHASH_SIDE = 32     # decoded grayscale side before DCT
_PHASH_BLOCK = 8     # low-frequency block -> 64-bit hash


def _decode_gray(content: bytes, side: int = _PHASH_SIDE):
    """Grayscale pixel grid for hashing. Real paths, in order: PIL decode
    (import-try gated) -> pure-numpy decode for uncompressed PPM/PGM/BMP
    (decode_image_numpy — REAL pixels, luma-weighted, nearest-resized).
    Stub path only for undecodable bytes: the deterministic
    byte->pixel map — pixels read the content bytes cyclically, so a
    small byte edit moves few pixels and a near-duplicate stays
    perceptually near. Returns a float64 (side, side) array in [0, 1]."""
    import numpy as np

    img = _try_real_image_decode(content)
    if img is not None:
        img = img.convert("L").resize((side, side))
        return np.asarray(img, dtype=np.float64) / 255.0
    px = decode_image_numpy(content)
    if px is not None:
        if px.ndim == 3:  # ITU-R 601 luma
            px = (0.299 * px[:, :, 0] + 0.587 * px[:, :, 1]
                  + 0.114 * px[:, :, 2])
        px = resize_nearest(px, side, side)
        return np.asarray(px, dtype=np.float64) / 255.0
    if not content:
        return np.zeros((side, side), dtype=np.float64)
    buf = np.frombuffer(content, dtype=np.uint8)
    idx = np.arange(side * side) % len(buf)
    return (buf[idx].astype(np.float64) / 255.0).reshape(side, side)


def _dct_matrix(side: int = _PHASH_SIDE):
    """Orthonormal DCT-II basis (the pHash transform), pure numpy."""
    import numpy as np

    k = np.arange(side)[:, None]
    n = np.arange(side)[None, :]
    d = np.cos(np.pi * k * (2 * n + 1) / (2 * side))
    d[0, :] *= np.sqrt(1.0 / side)
    d[1:, :] *= np.sqrt(2.0 / side)
    return d


def phash64(content: bytes) -> int:
    """Classic 64-bit perceptual hash: decode to grayscale, 2-D DCT, keep
    the top-left 8x8 low-frequency block, threshold each coefficient
    against the median of the 63 non-DC coefficients (strict >). The
    median of an odd count is an order statistic — no float averaging —
    so the hash is bit-deterministic wherever numpy is. Returns a SIGNED
    64-bit int (Spark BIGINT range)."""
    import numpy as np

    d = _dct_matrix()
    coefs = d @ _decode_gray(content) @ d.T
    block = coefs[:_PHASH_BLOCK, :_PHASH_BLOCK].reshape(-1)
    med = float(np.median(block[1:]))  # 63 values -> sorted[31], exact
    sig = 0
    for i, c in enumerate(block):
        if float(c) > med:
            sig |= 1 << i
    if sig >= 1 << 63:
        sig -= 1 << 64
    return sig


def phash_signatures(df: DataFrame) -> DataFrame:
    """Per-image perceptual hash via mapInPandas (Arrow-batched numpy —
    the same distribution shape as extract_features). Returns
    (media_id, phash bigint)."""

    def run(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for pdf in batches:
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "phash": pdf["content"].map(
                    lambda b: phash64(bytes(b)) if b is not None else 0
                ).astype("int64"),
            })

    return (
        df.where(F.col("kind") == "image")
        .select("media_id", "content")
        .mapInPandas(run, schema="media_id bigint, phash bigint")
    )


def phash_pairs(df: DataFrame, max_hamming: int = 6,
                chunks: int = 8) -> DataFrame:
    """Near-duplicate image pairs: perceptual hashes + the pigeonhole
    chunk-banding join shared with simhash (dedup.hamming_sig_pairs) —
    every pair within ``max_hamming`` shares one of ``chunks`` equal
    hash chunks, so candidates come from bucket joins, never all pairs.
    Returns (id_a, id_b, hamming). The 100 TB shape: one decode+hash scan,
    then banding on 64-bit keys — identical scaling to text simhash."""
    from . import dedup

    sigs = phash_signatures(df).select(
        F.col("media_id").alias("id"), F.col("phash").alias("sig"))
    return dedup.hamming_sig_pairs(sigs, max_hamming=max_hamming,
                                   chunks=chunks)
