"""REAL media decoders for the multimodal seam — pure-stdlib PNG + WAV.

``multimodal.extract_features`` takes an injected ``decoder`` callable; the
container ships no codec libraries (PIL/ffmpeg), so this module provides an
actual working decoder built on ``zlib``/``struct`` only: PNG (ISO/IEC
15948) for 8-bit greyscale / grey+alpha / truecolor / truecolor+alpha,
non-interlaced, with full scanline-filter reconstruction (None/Sub/Up/
Average/Paeth). That makes the decode seam REAL — chunk parsing, CRC-less
tolerant framing, IDAT inflate, per-row unfiltering, pixel math — while
heavier formats stay behind the same injection point.

``png_feature_decoder`` adapts it to the seam's ``bytes -> list[float]``
contract: per-channel mean/std plus geometry, raising on corrupt bytes so
``extract_features`` records ``decode_ok=False`` (corrupt media is data,
not a bug).

A minimal encoder (``encode_png``) lives here too, used by tests to build
valid PNGs with CHOSEN filter types per row so every reconstruction branch
is exercised; it is intentionally independent of the decoder's unfilter
code (applies the forward transform, not the inverse).

``decode_wav``/``wav_feature_decoder`` (end of file) are the audio sibling
— a second real format through the SAME injection point, proving the seam
is format-agnostic (VERDICT r4 item 7).
"""

from __future__ import annotations

import struct
import zlib

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
# color type -> samples per pixel (8-bit depth only)
_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


class PngError(ValueError):
    """Raised on malformed/unsupported PNG bytes."""


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def decode_png(data: bytes) -> tuple[int, int, int, bytearray]:
    """(width, height, channels, raw pixels row-major) from PNG bytes.

    Supports bit depth 8, color types 0/2/4/6, no interlace. Raises
    ``PngError`` on anything malformed or out of scope.
    """
    if not data.startswith(_PNG_MAGIC):
        raise PngError("not a PNG: bad signature")
    pos = len(_PNG_MAGIC)
    width = height = channels = -1
    idat = bytearray()
    seen_end = False
    while pos + 8 <= len(data):
        (length,), ctype = struct.unpack(">I", data[pos : pos + 4]), data[pos + 4 : pos + 8]
        chunk = data[pos + 8 : pos + 8 + length]
        if len(chunk) < length:
            raise PngError("truncated chunk")
        pos += 12 + length  # length + type + data + crc (crc not verified)
        if ctype == b"IHDR":
            if length != 13:
                raise PngError("bad IHDR length")
            width, height, depth, color, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", chunk
            )
            if width < 1 or height < 1:
                # zero dims are invalid per the PNG spec; letting them
                # through makes png_feature_decoder divide by w*h == 0
                # (ADVICE r4) — callers are promised PngError on corrupt
                # input, not ZeroDivisionError
                raise PngError(f"bad dimensions {width}x{height}")
            if depth != 8:
                raise PngError(f"unsupported bit depth {depth}")
            if color not in _CHANNELS:
                raise PngError(f"unsupported color type {color}")
            if interlace:
                raise PngError("interlaced PNG unsupported")
            channels = _CHANNELS[color]
        elif ctype == b"IDAT":
            idat.extend(chunk)
        elif ctype == b"IEND":
            seen_end = True
            break
    if width < 0:
        raise PngError("missing IHDR")
    if not seen_end:
        raise PngError("missing IEND")
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as e:  # corrupt deflate stream
        raise PngError(f"bad IDAT: {e}") from e

    stride = width * channels
    if len(raw) != (stride + 1) * height:
        raise PngError("pixel data size mismatch")
    out = bytearray(stride * height)
    bpp = channels
    for y in range(height):
        ftype = raw[y * (stride + 1)]
        row = raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)]
        base = y * stride
        prev_base = base - stride
        if ftype == 0:  # None
            out[base : base + stride] = row
        elif ftype == 1:  # Sub
            for x in range(stride):
                left = out[base + x - bpp] if x >= bpp else 0
                out[base + x] = (row[x] + left) & 0xFF
        elif ftype == 2:  # Up
            for x in range(stride):
                up = out[prev_base + x] if y else 0
                out[base + x] = (row[x] + up) & 0xFF
        elif ftype == 3:  # Average
            for x in range(stride):
                left = out[base + x - bpp] if x >= bpp else 0
                up = out[prev_base + x] if y else 0
                out[base + x] = (row[x] + ((left + up) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for x in range(stride):
                left = out[base + x - bpp] if x >= bpp else 0
                up = out[prev_base + x] if y else 0
                ul = out[prev_base + x - bpp] if (y and x >= bpp) else 0
                out[base + x] = (row[x] + _paeth(left, up, ul)) & 0xFF
        else:
            raise PngError(f"bad filter type {ftype}")
    return width, height, channels, out


def png_feature_decoder(payload: bytes) -> list[float]:
    """Seam adapter: PNG bytes → [width, height, channels,
    mean_c0..mean_c3, std_c0..std_c3] (absent channels zero-padded).
    Raises PngError on corrupt input — extract_features turns that into
    ``decode_ok=False`` without aborting the job."""
    w, h, ch, px = decode_png(payload)
    n = w * h
    means, stds = [0.0] * 4, [0.0] * 4
    for c in range(ch):
        vals = px[c :: ch]
        m = sum(vals) / n
        means[c] = m / 255.0
        stds[c] = (sum((v - m) ** 2 for v in vals) / n) ** 0.5 / 255.0
    return [float(w), float(h), float(ch), *means, *stds]


def _filter_row(
    ftype: int, row: bytes, prev: bytes, bpp: int
) -> bytes:
    """Forward filter transform (encoder side) — the inverse of the decode
    branches above, implemented independently so tests aren't circular."""
    stride = len(row)
    out = bytearray(stride)
    for x in range(stride):
        left = row[x - bpp] if x >= bpp else 0
        up = prev[x] if prev else 0
        ul = prev[x - bpp] if (prev and x >= bpp) else 0
        if ftype == 0:
            out[x] = row[x]
        elif ftype == 1:
            out[x] = (row[x] - left) & 0xFF
        elif ftype == 2:
            out[x] = (row[x] - up) & 0xFF
        elif ftype == 3:
            out[x] = (row[x] - ((left + up) >> 1)) & 0xFF
        elif ftype == 4:
            out[x] = (row[x] - _paeth(left, up, ul)) & 0xFF
        else:
            raise ValueError(f"bad filter type {ftype}")
    return bytes(out)


def _chunk(ctype: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + ctype
        + payload
        + struct.pack(">I", zlib.crc32(ctype + payload) & 0xFFFFFFFF)
    )


def encode_png(
    pixels: bytes,
    width: int,
    height: int,
    channels: int = 3,
    row_filters: list[int] | None = None,
) -> bytes:
    """Minimal valid PNG writer (8-bit, no interlace). ``row_filters`` picks
    the filter type per scanline (default all 0) so tests can force every
    unfilter branch in the decoder."""
    color = {1: 0, 3: 2, 2: 4, 4: 6}[channels]
    stride = width * channels
    if len(pixels) != stride * height:
        raise ValueError("pixel buffer size mismatch")
    filters = row_filters or [0] * height
    raw = bytearray()
    for y in range(height):
        row = pixels[y * stride : (y + 1) * stride]
        prev = pixels[(y - 1) * stride : y * stride] if y else b""
        raw.append(filters[y])
        raw.extend(_filter_row(filters[y], row, prev, channels))
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color, 0, 0, 0)
    return (
        _PNG_MAGIC
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _chunk(b"IEND", b"")
    )


# ---------------------------------------------------------------------------
# WAV (RIFF/PCM) — a SECOND real codec through the same multimodal seam
# (VERDICT r4 item 7): proves the injection point is format-agnostic. Reader
# is the stdlib ``wave`` parser + manual PCM sample math; the test-side
# encoder hand-rolls the RIFF/fmt/data framing independently so the tests
# aren't circular.
# ---------------------------------------------------------------------------


class WavError(ValueError):
    """Raised on malformed/unsupported WAV bytes."""


def decode_wav(data: bytes) -> tuple[int, int, int, list[list[int]]]:
    """(n_channels, framerate, sample_width, per-channel integer samples)
    from RIFF/PCM WAV bytes. Supports 8-bit unsigned and 16-bit signed-LE
    PCM. Raises ``WavError`` on anything malformed or out of scope."""
    import io
    import wave

    try:
        with wave.open(io.BytesIO(data)) as w:
            nch = w.getnchannels()
            sw = w.getsampwidth()
            fr = w.getframerate()
            raw = w.readframes(w.getnframes())
    except (wave.Error, EOFError, struct.error) as e:
        raise WavError(f"not a WAV: {e}") from e
    if nch < 1 or fr < 1:
        raise WavError(f"bad header: channels={nch} framerate={fr}")
    if sw not in (1, 2):
        raise WavError(f"unsupported sample width {sw}")
    if sw == 1:
        samples = [b - 128 for b in raw]  # 8-bit PCM is unsigned
    else:
        if len(raw) % 2:
            raise WavError("odd byte count for 16-bit samples")
        samples = list(struct.unpack(f"<{len(raw) // 2}h", raw))
    if len(samples) % nch:
        raise WavError("frame data not a multiple of channel count")
    return nch, fr, sw, [samples[c::nch] for c in range(nch)]


def wav_feature_decoder(payload: bytes) -> list[float]:
    """Seam adapter: WAV bytes → [n_channels, framerate, duration_ms,
    rms_c0, rms_c1, mean_c0, mean_c1] (mono zero-pads channel 1),
    amplitudes normalized to full scale. Raises WavError on corrupt input —
    extract_features turns that into ``decode_ok=False`` without aborting
    the job (same contract as png_feature_decoder)."""
    nch, fr, sw, chans = decode_wav(payload)
    n = len(chans[0]) if chans else 0
    full = 128.0 if sw == 1 else 32768.0
    rms, mean = [0.0, 0.0], [0.0, 0.0]
    for c in range(min(nch, 2)):
        if n:
            m = sum(chans[c]) / n
            mean[c] = m / full
            rms[c] = (sum(v * v for v in chans[c]) / n) ** 0.5 / full
    return [float(nch), float(fr), 1000.0 * n / fr, *rms, *mean]


def png_dhash(data: bytes) -> int:
    """Perceptual 64-bit difference-hash of a PNG: decode, luma,
    nearest-neighbor downsample to 9×8, emit one bit per horizontal
    gradient (left < right) — near-identical images (recompression, small
    edits, 1-px noise) land within a few Hamming bits, the standard
    image-near-dup fingerprint.  Pure integers end to end (luma =
    (299R+587G+114B)//1000, integer grid sampling), so the hash is
    platform-deterministic.  Raises ``PngError`` on malformed input (the
    multimodal seam turns that into ``decode_ok=False``)."""
    width, height, channels, px = decode_png(data)
    if width < 1 or height < 1:
        raise PngError("empty image")

    def luma(x: int, y: int) -> int:
        i = (y * width + x) * channels
        if channels >= 3:
            return (299 * px[i] + 587 * px[i + 1] + 114 * px[i + 2]) // 1000
        return px[i]  # gray / gray+alpha: first channel is luma

    hash_size = 8
    gw, gh = hash_size + 1, hash_size
    grid = [
        [luma(min(x * width // gw, width - 1), min(y * height // gh, height - 1))
         for x in range(gw)]
        for y in range(gh)
    ]
    h = 0
    for y in range(gh):
        for x in range(hash_size):
            h = (h << 1) | (1 if grid[y][x] < grid[y][x + 1] else 0)
    return h
