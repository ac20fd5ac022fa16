"""Animated-image kernels: GIF (real LZW both directions, interlace,
frame disposal/composition) and APNG (acTL/fcTL/fdAT walk over the
PNG substrate), plus their per-frame pHash pipelines."""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .core import _MAX_DECODE_BYTES
from .image import (
    _PNG_CHANNELS,
    _PNG_SIG,
    _paeth,
    _pixels_to_luma,
    _png_chunk,
    _png_unfilter,
    phash64,
)

# ------------------------------------------------------------- GIF (LZW)
# The fourth REAL pixel codec. GIF is pure-stdlib feasible
# (LZW is integer bit-twiddling; no codec library needed), genuinely
# common in crawled corpora, and — being palette-indexed and lossless —
# pHashes identically to the same pixels in BMP/PNG, extending the
# cross-codec dedup chain (q158d). First frame only: frame 0 composed
# onto the logical screen over the background color, the still-image
# semantics of an animated GIF's poster frame.

_GIF_MAGICS = (b"GIF87a", b"GIF89a")


def _gif_lzw_encode(data: bytes, min_code_size: int) -> bytes:
    """GIF-variant LZW (LSB-first bit packing, variable 3..12-bit
    codes, clear/EOI codes, clear emitted on table overflow at 4096).
    Width-bump convention: both sides track a CODE COUNTER (``track``,
    giflib's RunningCode) advanced per stream code, bumping the width
    when the counter passes 2^w — NOT a table-entry count. The
    distinction matters exactly at the stream tail: the final data code
    and EOI carry no table assignment, so an entry-count convention
    desyncs by one bit when the last assignment lands on a bump
    boundary (found by the hypothesis roundtrip fuzz at ~256-pixel
    high-entropy payloads). The exact mirror of `_gif_lzw_decode`."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    acc = nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1  # next code value to assign == the code counter
    width = min_code_size + 1
    emit(clear, width)
    w = b""
    for byte in data:
        wc = w + bytes([byte])
        if wc in table:
            w = wc
            continue
        emit(table[w], width)
        # giflib's EGifCompressOutput order: bump check AFTER emitting,
        # BEFORE this emission's assignment (counter still pre-increment)
        if next_code >= (1 << width) and width < 12:
            width += 1
        if next_code < 4096:
            table[wc] = next_code
            next_code += 1
        else:
            # table full: reset (decoder mirrors on seeing the clear)
            emit(clear, width)
            table = {bytes([i]): i for i in range(clear)}
            next_code = eoi + 1
            width = min_code_size + 1
        w = bytes([byte])
    if w:
        emit(table[w], width)
        if next_code >= (1 << width) and width < 12:
            width += 1
    emit(eoi, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _gif_lzw_decode(
    data: bytes, min_code_size: int, max_pixels: int
) -> bytearray | None:
    """Strict GIF LZW decode: None on any malformation — an
    out-of-range code, a stream yielding more than ``max_pixels``
    indices (the allocation-bomb guard: output is bounded BEFORE it is
    built), or a stream ending without EOI after data ran out. Width
    bumps follow the code-counter convention (see `_gif_lzw_encode`):
    ``track`` advances per code READ, so final-code/EOI reads stay in
    lockstep with an encoder whose tail emissions assign nothing."""
    if not 2 <= min_code_size <= 8:
        return None
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    width = min_code_size + 1
    track = eoi + 1  # giflib RunningCode: codes read since last clear
    prev: bytes | None = None
    acc = nbits = pos = 0
    while True:
        while nbits < width:
            if pos >= len(data):
                return None  # ran out of bits before EOI
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table = [bytes([i]) for i in range(clear)] + [b"", b""]
            width = min_code_size + 1
            track = eoi + 1
            prev = None
            continue
        if code == eoi:
            return out
        # post-read counter advance + bump (giflib DGifDecompressInput):
        # ++ then bump when the counter PASSES 2^w — equivalent in
        # stream position to the encoder's pre-assignment >= check
        track += 1
        if track > (1 << width) and width < 12:
            width += 1
        if code < len(table):
            entry = table[code]
            if code >= clear and not entry:
                return None  # the two reserved slots never decode
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]  # the KwKwK case
        else:
            return None
        if len(out) + len(entry) > max_pixels:
            return None
        out += entry
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
        prev = entry



_GIF_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def encode_gif_pixels(
    width: int, height: int, gray: bytes, interlace: bool = False
) -> bytes:
    """Pure-Python GIF89a writer with CALLER-SUPPLIED pixel content
    (the GIF sibling of `encode_bmp_pixels` / `encode_png`): ``gray``
    is ``width*height`` luma bytes in raster order, written against a
    256-entry grayscale identity palette (index == luma) and REAL LZW
    compression; ``interlace=True`` stores rows in the four-pass Adam
    order so the decoder's de-interlace path is exercisable."""
    if len(gray) != width * height:
        raise ValueError(
            f"encode_gif_pixels: need {width * height} luma bytes, "
            f"got {len(gray)}"
        )
    px = gray
    if interlace:
        rows = [gray[y * width:(y + 1) * width] for y in range(height)]
        px = b"".join(
            rows[y]
            for start, step in _GIF_INTERLACE_PASSES
            for y in range(start, height, step)
        )
    out = bytearray(b"GIF89a")
    out += width.to_bytes(2, "little") + height.to_bytes(2, "little")
    out += bytes((0xF7, 0, 0))  # GCT present, 256 entries; bg 0; no aspect
    out += bytes(v for i in range(256) for v in (i, i, i))
    out += b"\x2c" + bytes(4)  # image descriptor at (0, 0)
    out += width.to_bytes(2, "little") + height.to_bytes(2, "little")
    out.append(0x40 if interlace else 0)
    out.append(8)  # LZW minimum code size (256-color palette)
    lzw = _gif_lzw_encode(px, 8)
    for i in range(0, len(lzw), 255):
        block = lzw[i:i + 255]
        out.append(len(block))
        out += block
    out += b"\x00\x3b"  # block terminator + trailer
    return bytes(out)


def _gif_parse(blob: bytes, max_frames: int | None = None):
    """Shared strict GIF parser: header + logical screen descriptor +
    global color table, then the block walk collecting frame records —
    image descriptors with their local color tables, concatenated LZW
    sub-block data, and the preceding graphic-control state (delay,
    disposal method, transparency index). Returns
    (width, height, bg, gct, frames) or None on any malformation.

    ``max_frames`` bounds the walk: parsing stops once that many frames
    are collected WITHOUT requiring the trailer (the single-frame
    consumers — pHash ingest — validate through the frames they use,
    the same laziness decode_mp4's box walk applies past moov); with
    ``max_frames=None`` the walk is strict to the 0x3B trailer."""
    import numpy as np

    if len(blob) < 13 or blob[:6] not in _GIF_MAGICS:
        return None
    width = int.from_bytes(blob[6:8], "little")
    height = int.from_bytes(blob[8:10], "little")
    packed, bg = blob[10], blob[11]
    if width == 0 or height == 0 or width * height * 3 > _MAX_DECODE_BYTES:
        return None
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 7)
        if pos + 3 * n > len(blob):
            return None
        gct = np.frombuffer(blob, np.uint8, 3 * n, pos).reshape(n, 3)
        pos += 3 * n
    frames: list[dict] = []
    delay_cs = 0
    disposal = 0
    transp = None
    while True:
        if pos >= len(blob):
            return None
        block = blob[pos]
        pos += 1
        if block == 0x3B:
            break
        if block == 0x21:  # extension: label + sub-blocks until 0
            if pos >= len(blob):
                return None
            label = blob[pos]
            pos += 1
            first = True
            while True:
                if pos >= len(blob):
                    return None
                n = blob[pos]
                pos += 1
                if n == 0:
                    break
                if pos + n > len(blob):
                    # truncated sub-block: reject, never index past the
                    # buffer (the GCE reads below index up to pos+3)
                    return None
                if label == 0xF9 and first and n >= 4:
                    # graphic control: packed(disposal/transp flag),
                    # delay (LE centiseconds), transparent index
                    gp = blob[pos]
                    disposal = (gp >> 2) & 7
                    delay_cs = int.from_bytes(blob[pos + 1:pos + 3], "little")
                    transp = blob[pos + 3] if gp & 1 else None
                first = False
                pos += n
            continue
        if block != 0x2C:
            return None
        if pos + 9 > len(blob):
            return None
        left = int.from_bytes(blob[pos:pos + 2], "little")
        top = int.from_bytes(blob[pos + 2:pos + 4], "little")
        iw = int.from_bytes(blob[pos + 4:pos + 6], "little")
        ih = int.from_bytes(blob[pos + 6:pos + 8], "little")
        ipacked = blob[pos + 8]
        pos += 9
        if iw == 0 or ih == 0 or left + iw > width or top + ih > height:
            return None
        lct = None
        if ipacked & 0x80:
            n = 2 << (ipacked & 7)
            if pos + 3 * n > len(blob):
                return None
            lct = np.frombuffer(blob, np.uint8, 3 * n, pos).reshape(n, 3)
            pos += 3 * n
        if pos >= len(blob):
            return None
        min_code = blob[pos]
        pos += 1
        data = bytearray()
        while True:
            if pos >= len(blob):
                return None
            n = blob[pos]
            pos += 1
            if n == 0:
                break
            if pos + n > len(blob):
                return None
            data += blob[pos:pos + n]
            pos += n
        frames.append({
            "left": left, "top": top, "iw": iw, "ih": ih,
            "interlace": bool(ipacked & 0x40), "lct": lct,
            "min_code": min_code, "data": bytes(data),
            "delay_cs": delay_cs, "disposal": disposal, "transp": transp,
        })
        delay_cs, disposal, transp = 0, 0, None
        if max_frames is not None and len(frames) >= max_frames:
            break
    if not frames:
        return None
    return width, height, bg, gct, frames


def _gif_frame_indices(fr: dict):
    """LZW-decode one parsed frame record to its (ih, iw) palette-index
    array (de-interlaced), or None."""
    import numpy as np

    idx = _gif_lzw_decode(fr["data"], fr["min_code"], fr["iw"] * fr["ih"])
    if idx is None or len(idx) != fr["iw"] * fr["ih"]:
        return None
    frame = np.frombuffer(bytes(idx), np.uint8).reshape(fr["ih"], fr["iw"])
    if fr["interlace"]:
        rows = np.empty_like(frame)
        src_row = 0
        for start, step in _GIF_INTERLACE_PASSES:
            n = len(range(start, fr["ih"], step))
            rows[start::step] = frame[src_row:src_row + n]
            src_row += n
        frame = rows
    return frame


def _gif_bg_rgb(bg: int, gct):
    """Background fill color as an RGB triple: the bg index into the
    global table when valid, else black (a GIF without a global table
    has no defined background color)."""
    if gct is not None and bg < len(gct):
        return gct[bg]
    import numpy as np

    return np.zeros(3, dtype=np.uint8)


def decode_gif_frame(blob: bytes, frame_idx: int):
    """REAL animated-GIF frame PIXEL decode: parse frames 0..frame_idx,
    LZW-decode each, and compose them IN SEQUENCE onto the logical
    screen — paint-over for disposal none/do-not-dispose (0/1),
    region-restore-to-background for disposal 2, honoring per-frame
    transparency — returning the (height, width, 3) uint8 array the
    animation shows at that frame, or None (malformed stream, index out
    of range, or disposal 3 restore-to-previous, which is honestly
    rejected rather than approximated). Unlike MP4's chunk tables GIF
    has NO random access — every frame is a delta over the previous
    canvas — so selective decode is inherently O(frame_idx); the cost
    claim for middle-frame sampling is linear in video length, stated
    as such (`gif_anim_phash_blobs`)."""
    import numpy as np

    if frame_idx < 0:
        return None
    parsed = _gif_parse(blob, max_frames=frame_idx + 1)
    if parsed is None:
        return None
    width, height, bg, gct, frames = parsed
    if len(frames) <= frame_idx:
        return None
    bg_rgb = _gif_bg_rgb(bg, gct)
    canvas = np.empty((height, width, 3), dtype=np.uint8)
    canvas[:] = bg_rgb
    for f, fr in enumerate(frames[:frame_idx + 1]):
        pal = fr["lct"] if fr["lct"] is not None else gct
        if pal is None:
            return None
        frame = _gif_frame_indices(fr)
        if frame is None or int(frame.max()) >= len(pal):
            return None
        region = canvas[fr["top"]:fr["top"] + fr["ih"],
                        fr["left"]:fr["left"] + fr["iw"]]
        rgb = pal[frame]
        if fr["transp"] is not None:
            mask = frame != fr["transp"]
            region[mask] = rgb[mask]
        else:
            region[:] = rgb
        if f < frame_idx:
            if fr["disposal"] == 2:
                region[:] = bg_rgb
            elif fr["disposal"] == 3:
                return None  # restore-to-previous: reject, don't guess
    return np.ascontiguousarray(canvas)


def decode_gif_pixels(blob: bytes):
    """REAL pixel-decode kernel: strict GIF parse — header + logical
    screen descriptor, global/local color tables, extension-block walk,
    first image descriptor, full LZW decompression, four-pass
    de-interlace — composing frame 0 onto the logical screen over the
    background color and returning a numpy uint8 array of shape
    (height, width, 3) via palette lookup, or None on any malformation
    (bad magic, missing palette, frame outside the screen, bad LZW
    stream, wrong index count, out-of-palette index) so arbitrary bytes
    can never alias in — the same totality contract as the BMP/PNG/JPEG
    kernels. The still-image entry point of the shared parser
    (`_gif_parse`); the animation surface is `decode_gif_frame` /
    `gif_frame_table`."""
    return decode_gif_frame(blob, 0)


def gif_frame_table(blob: bytes):
    """Container-level frame metadata without pixel decode (the GIF
    analog of `mp4_sample_table`): per-frame
    (frame_idx, left, top, width, height, delay_cs, lzw_byte_len)
    tuples from a STRICT full-file parse, or None. The LZW payloads are
    walked (sub-block structure validated) but not decompressed — the
    cheap first pass a video pipeline runs before deciding which frames
    to decode."""
    parsed = _gif_parse(blob)
    if parsed is None:
        return None
    _, _, _, _, frames = parsed
    return [
        (i, fr["left"], fr["top"], fr["iw"], fr["ih"], fr["delay_cs"],
         len(fr["data"]))
        for i, fr in enumerate(frames)
    ]


def encode_gif_anim(
    width: int,
    height: int,
    frames: list[bytes],
    delay_cs: int = 10,
) -> bytes:
    """Animated-GIF writer (the fixture generator for the real
    animation decode path): every frame is a full-screen grayscale
    plane (``width*height`` luma bytes) against the shared 256-entry
    identity palette, preceded by a graphic-control extension carrying
    ``delay_cs`` and disposal do-not-dispose, plus the NETSCAPE2.0
    loop-forever application extension real encoders emit. Real LZW per
    frame."""
    if not frames:
        raise ValueError("encode_gif_anim: need at least one frame")
    for f in frames:
        if len(f) != width * height:
            raise ValueError(
                f"encode_gif_anim: every frame needs {width * height} "
                f"luma bytes, got {len(f)}"
            )
    out = bytearray(b"GIF89a")
    out += width.to_bytes(2, "little") + height.to_bytes(2, "little")
    out += bytes((0xF7, 0, 0))
    out += bytes(v for i in range(256) for v in (i, i, i))
    # NETSCAPE2.0 loop extension (loop count 0 = forever)
    out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00"
    for gray in frames:
        out += b"\x21\xf9\x04"          # graphic control, 4 data bytes
        out.append(0x04)                  # disposal 1 (do not dispose)
        out += delay_cs.to_bytes(2, "little")
        out += b"\x00\x00"                # no transparency; terminator
        out += b"\x2c" + bytes(4)
        out += width.to_bytes(2, "little") + height.to_bytes(2, "little")
        out.append(0)
        out.append(8)
        lzw = _gif_lzw_encode(gray, 8)
        for i in range(0, len(lzw), 255):
            block = lzw[i:i + 255]
            out.append(len(block))
            out += block
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)


def gif_anim_phash_blobs(
    df: DataFrame, id_col: str = "doc_id", blob_col: str = "blob"
) -> DataFrame:
    """Per-animation perceptual hash over a binary column of GIFs: walk
    the frame table, decode the MIDDLE frame (sequential composition —
    GIF frames are deltas, so unlike MJPEG's chunk-table seek the cost
    is O(n_frames/2) LZW decodes per animation; stated, not hidden),
    collapse to luma, pHash. One Arrow-batched mapInPandas projection —
    (id, n_frames, vhash) is the shuffle key for Hamming-bucketed
    animation near-dup, q174's chain for the GIF container."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, counts, hashes = [], [], []
            for d, b in zip(pdf[id_col], pdf[blob_col]):
                blob = bytes(b)
                table = gif_frame_table(blob)
                if table is None:
                    raise ValueError(
                        "gif_anim_phash_blobs: not a valid GIF"
                    )
                px = decode_gif_frame(blob, len(table) // 2)
                if px is None:
                    raise ValueError(
                        "gif_anim_phash_blobs: undecodable middle frame"
                    )
                ids.append(d)
                counts.append(len(table))
                hashes.append(phash64(_pixels_to_luma(px)))
            yield pd.DataFrame(
                {id_col: ids, "n_frames": counts, "vhash": hashes}
            )

    id_type = df.schema[id_col].dataType.simpleString()
    return df.select(id_col, blob_col).mapInPandas(
        batches, f"{id_col} {id_type}, n_frames long, vhash long"
    )




# ------------------------------------------------------------ APNG
# The second animation container: APNG rides the PNG chunk
# stream (acTL/fcTL/fdAT, RFC-pending W3C spec, public) — pure-stdlib
# feasible like GIF, and the still decoders already do the right thing
# (an APNG's IDAT is its default image, so `decode_png_pixels` on an
# APNG blob returns the poster frame). This section adds the ANIMATION
# surface: strict frame parse, per-frame region decode, composition
# with all three dispose ops and both blend ops.


def _apng_parse(blob: bytes):
    """Strict APNG parse: full CRC-verified chunk walk collecting IHDR,
    acTL, and the fcTL/fdAT/IDAT frame structure. Returns
    (width, height, nch, frames) where each frame is a dict
    {x, y, w, h, delay_num, delay_den, dispose, blend, raw} with
    ``raw`` the frame's inflated+validated filtered bytes, or None on
    any malformation: bad CRC, missing/duplicated acTL, non-consecutive
    sequence numbers, frame region outside the canvas, fcTL count !=
    acTL num_frames, undeclared trailing bytes, oversized or lying
    deflate streams (the `_png_parse` bomb bound per frame). A plain
    PNG (no acTL) returns None — it is a still image, not an
    animation."""
    import zlib

    if len(blob) < len(_PNG_SIG) + 12 or blob[:8] != _PNG_SIG:
        return None
    pos, ihdr, actl, seen_end = 8, None, None, False
    # frame assembly state
    fcts: list[dict] = []          # fcTL records in stream order
    datas: list[bytearray] = []    # compressed bytes per fcTL
    idat = bytearray()
    idat_after_fctl = False        # first fcTL appeared before IDAT
    next_seq = 0
    while pos + 12 <= len(blob):
        size = int.from_bytes(blob[pos:pos + 4], "big")
        ctype = blob[pos + 4:pos + 8]
        end = pos + 8 + size
        if end + 4 > len(blob):
            return None
        data = blob[pos + 8:end]
        crc = int.from_bytes(blob[end:end + 4], "big")
        if (zlib.crc32(ctype + data) & 0xFFFFFFFF) != crc:
            return None
        if ctype == b"IHDR":
            if ihdr is not None or size != 13:
                return None
            ihdr = data
        elif ctype == b"acTL":
            if actl is not None or size != 8 or idat:
                return None  # one acTL, before the first IDAT
            actl = (
                int.from_bytes(data[0:4], "big"),
                int.from_bytes(data[4:8], "big"),
            )
        elif ctype == b"fcTL":
            if size != 26 or int.from_bytes(data[0:4], "big") != next_seq:
                return None
            next_seq += 1
            fcts.append({
                "w": int.from_bytes(data[4:8], "big"),
                "h": int.from_bytes(data[8:12], "big"),
                "x": int.from_bytes(data[12:16], "big"),
                "y": int.from_bytes(data[16:20], "big"),
                "delay_num": int.from_bytes(data[20:22], "big"),
                "delay_den": int.from_bytes(data[22:24], "big"),
                "dispose": data[24],
                "blend": data[25],
            })
            datas.append(bytearray())
            if not idat:
                idat_after_fctl = True
        elif ctype == b"IDAT":
            if len(fcts) >= 2:
                # spec requires IDAT chunks to be consecutive and belong
                # to frame 0: IDAT after a second fcTL (or after fdAT,
                # which needs that second fcTL) is malformed, not
                # silently unattributed bytes
                return None
            idat += data
            if idat_after_fctl and len(fcts) == 1:
                datas[0] += data  # IDAT is frame 0's data
        elif ctype == b"fdAT":
            if size < 4 or not fcts or len(fcts) < 2:
                return None  # fdAT before the second fcTL is malformed
            if int.from_bytes(data[0:4], "big") != next_seq:
                return None
            next_seq += 1
            datas[-1] += data[4:]
        elif ctype == b"IEND":
            seen_end = end + 4 == len(blob)
            break
        pos = end + 4
    if ihdr is None or actl is None or not idat or not seen_end:
        return None
    if not idat_after_fctl:
        return None  # default image outside the animation: unsupported
    if actl[0] != len(fcts) or not fcts:
        return None
    width = int.from_bytes(ihdr[0:4], "big")
    height = int.from_bytes(ihdr[4:8], "big")
    depth, color_type, comp, filt, interlace = ihdr[8:13]
    nch = _PNG_CHANNELS.get(color_type)
    if (
        width == 0 or height == 0 or depth != 8 or nch is None
        or comp != 0 or filt != 0 or interlace != 0
    ):
        return None
    if width * height * max(nch, 3) > _MAX_DECODE_BYTES:
        return None
    frames = []
    for fc, cdata in zip(fcts, datas):
        w, h = fc["w"], fc["h"]
        if (
            w == 0 or h == 0
            or fc["x"] + w > width or fc["y"] + h > height
        ):
            return None
        expected = h * (w * nch + 1)
        if expected > _MAX_DECODE_BYTES:
            return None
        d = zlib.decompressobj()
        try:
            raw = d.decompress(bytes(cdata), expected + 1)
        except zlib.error:
            return None
        if (
            len(raw) != expected
            or not d.eof or d.unused_data or d.unconsumed_tail
        ):
            return None
        frames.append({**fc, "raw": raw})
    return width, height, nch, frames


def apng_frame_table(blob: bytes):
    """Per-frame APNG metadata (the `gif_frame_table` /
    `mp4_sample_table` analog): (frame_idx, x, y, w, h, delay_num,
    delay_den, dispose_op, blend_op) from the strict full parse, or
    None. The frame deflate streams are validated (inflated against
    their declared geometry) but no filter walk / composition runs."""
    parsed = _apng_parse(blob)
    if parsed is None:
        return None
    _, _, _, frames = parsed
    return [
        (i, f["x"], f["y"], f["w"], f["h"], f["delay_num"],
         f["delay_den"], f["dispose"], f["blend"])
        for i, f in enumerate(frames)
    ]


def decode_apng_frame(blob: bytes, frame_idx: int):
    """REAL APNG frame PIXEL decode: compose frames 0..frame_idx onto
    the canvas per the W3C APNG spec — regions unfilter through the
    shared PNG filter walk, dispose ops none(0) / background(1,
    region to fully-transparent) / previous(2, region restored to its
    pre-render content; on frame 0 treated as background, per spec),
    blend ops source(0, overwrite) and over(1, Porter-Duff — computed
    in float64 and rounded half-up, a fixed deterministic convention;
    channels without alpha make over == source). Returns the
    (height, width, nch) uint8 canvas at that frame, or None. Like
    GIF, APNG frames are deltas — selective decode is inherently
    O(frame_idx), stated where the cost claim matters
    (`apng_phash_blobs`)."""
    import numpy as np

    if frame_idx < 0:
        return None
    parsed = _apng_parse(blob)
    if parsed is None:
        return None
    width, height, nch, frames = parsed
    if frame_idx >= len(frames):
        return None
    canvas = np.zeros((height, width, nch), dtype=np.uint8)
    for i, fr in enumerate(frames[:frame_idx + 1]):
        samples = _png_unfilter(fr["raw"], fr["w"], fr["h"], nch)
        if samples is None:
            return None
        patch = (
            np.frombuffer(bytes(samples), dtype=np.uint8)
            .reshape(fr["h"], fr["w"], nch)
        )
        y0, y1 = fr["y"], fr["y"] + fr["h"]
        x0, x1 = fr["x"], fr["x"] + fr["w"]
        region = canvas[y0:y1, x0:x1]
        saved = region.copy() if fr["dispose"] == 2 else None
        has_alpha = nch in (2, 4)
        if fr["blend"] == 1 and has_alpha:
            fg = patch.astype(np.float64)
            bg = region.astype(np.float64)
            af = fg[:, :, -1:] / 255.0
            ab = bg[:, :, -1:] / 255.0
            ao = af + ab * (1.0 - af)
            safe = np.where(ao == 0.0, 1.0, ao)
            color = (
                fg[:, :, :-1] * af + bg[:, :, :-1] * ab * (1.0 - af)
            ) / safe
            out = np.concatenate([color, ao * 255.0], axis=2)
            region[:] = np.floor(out + 0.5).astype(np.uint8)
        elif fr["blend"] in (0, 1):
            region[:] = patch
        else:
            return None  # unknown blend op
        if i < frame_idx:
            if fr["dispose"] == 1 or (fr["dispose"] == 2 and i == 0):
                region[:] = 0
            elif fr["dispose"] == 2:
                region[:] = saved
            elif fr["dispose"] != 0:
                return None  # unknown dispose op
    return np.ascontiguousarray(canvas)


def encode_apng(
    width: int,
    height: int,
    frames: list[bytes],
    n_channels: int = 1,
    delay_num: int = 4,
    delay_den: int = 100,
) -> bytes:
    """APNG writer (fixture generator for the animation decode path):
    full-screen frames against the shared IHDR geometry, blend source,
    dispose none; frame 0 rides IDAT (fcTL first, per spec), later
    frames ride sequence-numbered fdAT chunks; every frame's scanlines
    rotate through all five PNG filters (the `encode_png` idiom)."""
    import zlib

    if not frames:
        raise ValueError("encode_apng: need at least one frame")
    for f in frames:
        if len(f) != width * height * n_channels:
            raise ValueError(
                f"encode_apng: every frame needs "
                f"{width * height * n_channels} bytes, got {len(f)}"
            )
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[n_channels]
    ihdr = (
        width.to_bytes(4, "big") + height.to_bytes(4, "big")
        + bytes((8, color_type, 0, 0, 0))
    )
    out = bytearray(_PNG_SIG)
    out += _png_chunk(b"IHDR", ihdr)
    out += _png_chunk(
        b"acTL", len(frames).to_bytes(4, "big") + (0).to_bytes(4, "big")
    )
    seq = 0
    stride = width * n_channels

    def filtered(pixels: bytes) -> bytes:
        rows = bytearray()
        prev = bytes(stride)
        for y in range(height):
            row = pixels[y * stride:(y + 1) * stride]
            ft = y % 5
            rows.append(ft)
            if ft == 0:
                rows += row
            elif ft == 1:
                rows += bytes(
                    (row[i] - (row[i - n_channels] if i >= n_channels else 0))
                    & 0xFF
                    for i in range(stride)
                )
            elif ft == 2:
                rows += bytes((row[i] - prev[i]) & 0xFF for i in range(stride))
            elif ft == 3:
                rows += bytes(
                    (row[i] - (
                        ((row[i - n_channels] if i >= n_channels else 0)
                         + prev[i]) >> 1
                    )) & 0xFF
                    for i in range(stride)
                )
            else:
                rows += bytes(
                    (row[i] - _paeth(
                        row[i - n_channels] if i >= n_channels else 0,
                        prev[i],
                        prev[i - n_channels] if i >= n_channels else 0,
                    )) & 0xFF
                    for i in range(stride)
                )
            prev = row
        return zlib.compress(bytes(rows), 6)

    for fi, gray in enumerate(frames):
        fctl = (
            seq.to_bytes(4, "big")
            + width.to_bytes(4, "big") + height.to_bytes(4, "big")
            + (0).to_bytes(4, "big") + (0).to_bytes(4, "big")
            + delay_num.to_bytes(2, "big") + delay_den.to_bytes(2, "big")
            + bytes((0, 0))  # dispose none, blend source
        )
        out += _png_chunk(b"fcTL", fctl)
        seq += 1
        comp = filtered(gray)
        if fi == 0:
            out += _png_chunk(b"IDAT", comp)
        else:
            out += _png_chunk(b"fdAT", seq.to_bytes(4, "big") + comp)
            seq += 1
    out += _png_chunk(b"IEND", b"")
    return bytes(out)


def apng_phash_blobs(
    df: DataFrame, id_col: str = "doc_id", blob_col: str = "blob"
) -> DataFrame:
    """Per-animation perceptual hash over a binary column of APNGs:
    middle-frame decode (sequential composition, O(n_frames/2) per
    animation — stated, the GIF note applies), luma, pHash. One
    Arrow-batched mapInPandas projection; (id, n_frames, vhash) is the
    shuffle key for Hamming-bucketed animation near-dup."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, counts, hashes = [], [], []
            for d, b in zip(pdf[id_col], pdf[blob_col]):
                blob = bytes(b)
                table = apng_frame_table(blob)
                if table is None:
                    raise ValueError("apng_phash_blobs: not a valid APNG")
                px = decode_apng_frame(blob, len(table) // 2)
                if px is None:
                    raise ValueError(
                        "apng_phash_blobs: undecodable middle frame"
                    )
                ids.append(d)
                counts.append(len(table))
                hashes.append(phash64(_pixels_to_luma(px)))
            yield pd.DataFrame(
                {id_col: ids, "n_frames": counts, "vhash": hashes}
            )

    id_type = df.schema[id_col].dataType.simpleString()
    return df.select(id_col, blob_col).mapInPandas(
        batches, f"{id_col} {id_type}, n_frames long, vhash long"
    )



def decode_gif(blob: bytes) -> tuple[int, int, int, int] | None:
    """GIF metadata kernel: (byte_len, width, height, 3) for a
    well-formed GIF, None otherwise. Runs the FULL pixel decode
    (`decode_gif_pixels`) rather than a header peek — the same
    strictness contract as `decode_png` (which inflates the whole IDAT
    stream): dimensions are only reported for payloads the pixel path
    actually accepts, so text bytes can never alias in."""
    px = decode_gif_pixels(blob)
    if px is None:
        return None
    return len(blob), px.shape[1], px.shape[0], 3


