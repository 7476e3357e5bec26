"""GIF codec (87a/89a), pure stdlib + numpy.

Closes the codec-breadth axis one more web-native format: after PNG
(zlib), JPEG (Huffman+DCT) and WAV (PCM/G.711/ADPCM), GIF's LZW is the
remaining compression a crawl actually serves that is fully
implementable without external libraries. The DECODER handles both
signatures, global and local color tables, interlaced row order, the
89a graphic-control extension (transparency + disposal none/keep/
restore-background), multi-frame animations composited on the logical
screen, and sub-block-framed LZW with code-width growth and mid-stream
clear codes. The ENCODER exists for tests: palette-building
single-frame and multi-frame encoders with optional interlace and
transparency, so round-trips are LOSSLESS and have a closed-form
ground truth (GIF, unlike JPEG, must reproduce pixels exactly).

Reference anchor: the reference decodes its binary payloads with
pydicom/pdf2image (extract_gcc_report_text_ou.py:46-56); this module
is that capability rebuilt for the web-crawl payload inside the
container's actual dependency envelope, same argument as the PNG/JPEG
kernels.
"""

from __future__ import annotations

import struct

import numpy as np


class GifError(ValueError):
    """Malformed GIF — the caller maps this to CorruptImage/quarantine."""


_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))  # (start, step)
MAX_CODE = 4096  # 12-bit LZW ceiling, per the GIF spec


# ---------------------------------------------------------------------------
# LZW (GIF variant: LSB-first packing, growing code width, clear codes)
# ---------------------------------------------------------------------------


def _lzw_decode(data: bytes, min_code_size: int, n_pixels: int) -> bytearray:
    """GIF LZW stream → pixel indices (exactly n_pixels of them).

    Per-code Python loop — the quarantine-grade correctness kernel,
    same idiom as the PNG unfilter and the ADPCM state machines."""
    if not 2 <= min_code_size <= 8:
        raise GifError("gif: lzw minimum code size out of range")
    clear = 1 << min_code_size
    end = clear + 1
    # dictionary as (prefix_code, tail_byte); roots have prefix -1
    prefix = [-1] * MAX_CODE
    tail = bytearray(MAX_CODE)
    for i in range(clear):
        tail[i] = i
    next_code = end + 1
    width = min_code_size + 1
    out = bytearray()
    acc = nbits = 0
    prev = -1
    pos = 0
    while True:
        while nbits < width:
            if pos >= len(data):
                raise GifError("gif: lzw stream truncated before end code")
            acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            next_code = end + 1
            width = min_code_size + 1
            prev = -1
            continue
        if code == end:
            break
        if prev == -1:
            if code >= clear:
                raise GifError("gif: first lzw code is not a root")
            out.append(code)
            prev = code
        else:
            if code > next_code or code in (clear, end):
                raise GifError("gif: lzw code beyond dictionary")
            if code == next_code:  # KwKwK: emit prev + first(prev)
                entry = _expand(prefix, tail, prev)
                entry.append(entry[0])
            else:
                entry = _expand(prefix, tail, code)
            out += entry
            if next_code < MAX_CODE:
                prefix[next_code] = prev
                tail[next_code] = entry[0]
                next_code += 1
                if next_code == (1 << width) and width < 12:
                    width += 1
            prev = code
        if len(out) > n_pixels:
            raise GifError("gif: lzw produced more pixels than the frame holds")
    if len(out) != n_pixels:
        raise GifError("gif: lzw produced fewer pixels than the frame holds")
    return out


def _expand(prefix: list, tail: bytearray, code: int) -> bytearray:
    entry = bytearray()
    while code != -1:
        entry.append(tail[code])
        code = prefix[code]
    entry.reverse()
    return entry


def _lzw_encode(indices, min_code_size: int) -> bytes:
    """Pixel indices → GIF LZW stream (clear-first, dictionary reset on
    overflow) — the paired test encoder sharing the spec's code-width
    growth rule with the decoder."""
    clear = 1 << min_code_size
    end = clear + 1
    out = bytearray()
    acc = nbits = 0

    def emit(code: int, width: int):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    next_code = end + 1
    width = min_code_size + 1
    emit(clear, width)
    run = b""
    for px in indices:
        cand = run + bytes([px])
        if cand in table:
            run = cand
            continue
        emit(table[run], width)
        if next_code < MAX_CODE:
            table[cand] = next_code
            next_code += 1
            if next_code == (1 << width) + 1 and width < 12:
                width += 1
        else:
            emit(clear, width)
            table = {bytes([i]): i for i in range(clear)}
            next_code = end + 1
            width = min_code_size + 1
        run = bytes([px])
    if run:
        emit(table[run], width)
        # the decoder adds one more entry on reading that code, and widens
        # before the END code when the add lands on 1 << width
        if next_code == (1 << width) and width < 12:
            width += 1
    emit(end, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


# ---------------------------------------------------------------------------
# Container
# ---------------------------------------------------------------------------


def _sub_blocks(b: bytes, pos: int) -> tuple[bytes, int]:
    """Concatenate a sub-block chain starting at pos → (data, next pos)."""
    chunks = []
    while True:
        if pos >= len(b):
            raise GifError("gif: sub-block chain truncated")
        n = b[pos]
        pos += 1
        if n == 0:
            return b"".join(chunks), pos
        if pos + n > len(b):
            raise GifError("gif: sub-block overruns payload")
        chunks.append(b[pos : pos + n])
        pos += n


def _color_table(b: bytes, pos: int, bits: int) -> tuple[np.ndarray, int]:
    n = 2 << bits
    if pos + 3 * n > len(b):
        raise GifError("gif: color table truncated")
    tbl = np.frombuffer(b, dtype=np.uint8, count=3 * n, offset=pos).reshape(n, 3)
    return tbl, pos + 3 * n


def decode_gif_frames(b: bytes):
    """GIF bytes → (list of (h, w, 3) uint8 RGB frames, logical w, h).

    Every frame is the full logical screen as composited at that point
    of the animation (disposal none/keep draws over, disposal 2
    restores the frame's rectangle to the background afterwards).
    Raises GifError on any structural violation."""
    if len(b) < 13 or b[:6] not in (b"GIF87a", b"GIF89a"):
        raise GifError("gif: bad signature")
    w, h = struct.unpack_from("<HH", b, 6)
    if w == 0 or h == 0 or w * h > 64_000_000:
        raise GifError("gif: implausible logical screen")
    packed, bg_index, _aspect = b[10], b[11], b[12]
    pos = 13
    gct = None
    if packed & 0x80:
        gct, pos = _color_table(b, pos, packed & 0x07)
    if gct is not None and bg_index < len(gct):
        background = gct[bg_index]
    else:
        background = np.zeros(3, dtype=np.uint8)
    screen = np.tile(background, (h, w, 1)).astype(np.uint8)
    frames = []
    transparent = None
    disposal = 0
    while True:
        if pos >= len(b):
            raise GifError("gif: missing trailer")
        block = b[pos]
        pos += 1
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension
            if pos >= len(b):
                raise GifError("gif: extension truncated")
            label = b[pos]
            pos += 1
            data, pos = _sub_blocks(b, pos)
            if label == 0xF9:  # graphic control
                if len(data) < 4:
                    raise GifError("gif: graphic control block too short")
                flags = data[0]
                disposal = (flags >> 2) & 0x07
                transparent = data[3] if flags & 0x01 else None
            # other labels (application, comment, plain text): skipped
            continue
        if block != 0x2C:
            raise GifError(f"gif: unknown block 0x{block:02x}")
        # image descriptor
        if pos + 9 > len(b):
            raise GifError("gif: image descriptor truncated")
        left, top, fw, fh = struct.unpack_from("<HHHH", b, pos)
        ipacked = b[pos + 8]
        pos += 9
        if fw == 0 or fh == 0 or left + fw > w or top + fh > h:
            raise GifError("gif: frame exceeds logical screen")
        lct = None
        if ipacked & 0x80:
            lct, pos = _color_table(b, pos, ipacked & 0x07)
        table = lct if lct is not None else gct
        if table is None:
            raise GifError("gif: frame has no color table")
        if pos >= len(b):
            raise GifError("gif: lzw header truncated")
        min_code = b[pos]
        pos += 1
        data, pos = _sub_blocks(b, pos)
        idx = np.frombuffer(
            bytes(_lzw_decode(data, min_code, fw * fh)), dtype=np.uint8
        )
        if int(idx.max(initial=0)) >= len(table):
            raise GifError("gif: pixel index beyond color table")
        if ipacked & 0x40:  # interlaced: reorder rows into pass order
            rows = idx.reshape(fh, fw)
            ordered = np.empty_like(rows)
            src = 0
            for start, step in _INTERLACE_PASSES:
                n = len(range(start, fh, step))
                ordered[start:fh:step] = rows[src : src + n]
                src += n
            idx = ordered.reshape(-1)
        rect = table[idx].reshape(fh, fw, 3)
        region = screen[top : top + fh, left : left + fw]
        if transparent is not None:
            mask = (idx.reshape(fh, fw) != transparent)[:, :, None]
            region[:] = np.where(mask, rect, region)
        else:
            region[:] = rect
        frames.append(screen.copy())
        if disposal == 2:  # restore rectangle to background
            screen[top : top + fh, left : left + fw] = background
        transparent = None
        disposal = 0
    if not frames:
        raise GifError("gif: no image frames")
    return frames, w, h


def decode_gif(b: bytes) -> np.ndarray:
    """First composited frame as an (h, w, 3) uint8 RGB array."""
    frames, _, _ = decode_gif_frames(b)
    return frames[0]


# ---------------------------------------------------------------------------
# Encoder (for tests: lossless round-trip ground truth)
# ---------------------------------------------------------------------------


def _palette_of(frames) -> tuple[np.ndarray, list[np.ndarray]]:
    """Shared palette (≤256 colors) + per-frame index rasters."""
    stacked = np.concatenate([f.reshape(-1, 3) for f in frames], axis=0)
    colors, inverse = np.unique(stacked, axis=0, return_inverse=True)
    if len(colors) > 256:
        raise ValueError("gif encoder: more than 256 distinct colors")
    index_frames = []
    off = 0
    for f in frames:
        n = f.shape[0] * f.shape[1]
        index_frames.append(inverse[off : off + n].astype(np.uint8))
        off += n
    return colors.astype(np.uint8), index_frames


def _deinterlace_order(idx: np.ndarray, fh: int, fw: int) -> np.ndarray:
    rows = idx.reshape(fh, fw)
    return np.concatenate(
        [rows[start:fh:step] for start, step in _INTERLACE_PASSES]
    ).reshape(-1)


def encode_gif(
    rgb: np.ndarray,
    interlace: bool = False,
    transparent_color: tuple | None = None,
) -> bytes:
    """(h, w, 3) uint8 RGB (≤256 distinct colors) → GIF89a bytes."""
    return encode_gif_frames(
        [rgb],
        interlace=interlace,
        transparent_color=transparent_color,
    )


def encode_gif_frames(
    frames,
    offsets=None,
    size: tuple | None = None,
    interlace: bool = False,
    transparent_color: tuple | None = None,
    disposals=None,
) -> bytes:
    """Multi-frame GIF89a encoder. ``frames`` are (h, w, 3) uint8
    arrays; ``offsets`` per-frame (left, top) on the logical screen
    (default (0, 0)); ``size`` the logical screen (default the first
    frame's); ``disposals`` per-frame GIF disposal codes."""
    offsets = offsets or [(0, 0)] * len(frames)
    disposals = disposals or [0] * len(frames)
    h0, w0 = frames[0].shape[0], frames[0].shape[1]
    sw, sh = size or (w0, h0)
    palette, index_frames = _palette_of(frames)
    bits = max(1, (len(palette) - 1).bit_length())
    tbl = np.zeros((2 ** bits, 3), dtype=np.uint8)
    tbl[: len(palette)] = palette
    trans_idx = None
    if transparent_color is not None:
        match = np.where((palette == np.array(transparent_color, dtype=np.uint8)).all(axis=1))[0]
        if len(match):
            trans_idx = int(match[0])
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", sw, sh)
    out += bytes([0x80 | ((bits - 1) & 0x07), 0, 0])  # GCT present, bg 0
    out += tbl.tobytes()
    min_code = max(2, bits)
    for f_i, (frame, (left, top)) in enumerate(zip(frames, offsets)):
        fh, fw = frame.shape[0], frame.shape[1]
        if trans_idx is not None or disposals[f_i]:
            flags = (disposals[f_i] & 0x07) << 2
            ti = 0
            if trans_idx is not None:
                flags |= 0x01
                ti = trans_idx
            out += bytes([0x21, 0xF9, 4, flags, 0, 0, ti, 0])
        out += bytes([0x2C]) + struct.pack("<HHHH", left, top, fw, fh)
        out += bytes([0x40 if interlace else 0x00])
        idx = index_frames[f_i]
        if interlace:
            idx = _deinterlace_order(idx, fh, fw)
        out += bytes([min_code])
        stream = _lzw_encode(idx.tolist(), min_code)
        for i in range(0, len(stream), 255):
            chunk = stream[i : i + 255]
            out += bytes([len(chunk)]) + chunk
        out += b"\x00"
    out += b"\x3B"
    return bytes(out)
