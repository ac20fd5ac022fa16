"""Video kernels: ISO-BMFF MP4 box walk (moov/trak/stbl sample
tables for metadata AND real per-frame offset/size/timestamp rows)
and the Motion-JPEG frame-pixel path (sample-table seek + the full
JPEG kernel on the sliced sample). Inter-frame codecs (H.264/VP9/
AV1) remain the one honest env-blocked stub — see sample_frames
and resize_blobs in blobs.py."""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .core import _decode_meta_blobs, widen_partitions
from .image import _pixels_to_luma, phash64
from .jpeg import decode_jpeg_pixels, encode_jpeg

# ------------------------------------------------------- ISO-BMFF (MP4)
def _mp4_box(btype: bytes, payload: bytes) -> bytes:
    return (8 + len(payload)).to_bytes(4, "big") + btype + payload


def _mp4_full(btype: bytes, version: int, flags: int, payload: bytes) -> bytes:
    return _mp4_box(btype, bytes([version]) + flags.to_bytes(3, "big") + payload)


_MP4_MATRIX = b"".join(
    v.to_bytes(4, "big")
    for v in (0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
)


def encode_mp4(
    n_frames: int,
    frame_delta: int = 40,
    timescale: int = 1000,
    width: int = 640,
    height: int = 480,
    frames: list[bytes] | None = None,
    codec: bytes = b"mp4v",
) -> bytes:
    """Pure-Python minimal ISO-BMFF (MP4) writer — fixture generator for
    the real video-metadata decode path (no media library). One video
    track, uniform frame timing (stts), one chunk (stsc/stco), and an
    mdat whose payload is exactly the declared sample bytes laid out
    back-to-back. Duration = n_frames * frame_delta ticks.

    Default shape (``frames=None``): per-frame sizes 16+(i%7) (stsz)
    with a deterministic byte pattern — the metadata fixtures
    (q40e/q40g) depend on these exact bytes. With ``frames`` given,
    each list element becomes a REAL sample payload (sizes from the
    payloads, ``n_frames`` must match) and ``codec`` sets the stsd
    sample-entry fourcc — pass JPEG blobs with ``codec=b"jpeg"`` for a
    genuine Motion-JPEG track (the intra-frame video family whose
    frame pixel decode needs no codec library)."""
    if n_frames <= 0 or frame_delta <= 0 or timescale <= 0:
        raise ValueError("n_frames, frame_delta, timescale must be positive")
    if frames is not None and len(frames) != n_frames:
        raise ValueError("frames length must equal n_frames")
    if len(codec) != 4:
        raise ValueError("codec must be a 4-byte fourcc")
    duration = n_frames * frame_delta
    if frames is not None:
        sizes = [len(f) for f in frames]
    else:
        sizes = [16 + (i % 7) for i in range(n_frames)]

    mvhd = _mp4_full(
        b"mvhd", 0, 0,
        (0).to_bytes(4, "big") * 2                     # creation/modification
        + timescale.to_bytes(4, "big")
        + duration.to_bytes(4, "big")
        + (0x00010000).to_bytes(4, "big")              # rate 1.0
        + (0x0100).to_bytes(2, "big")                  # volume 1.0
        + bytes(10)                                    # reserved
        + _MP4_MATRIX
        + bytes(24)                                    # pre_defined
        + (2).to_bytes(4, "big"),                      # next_track_ID
    )
    tkhd = _mp4_full(
        b"tkhd", 0, 7,                  # enabled | in_movie | in_preview
        (0).to_bytes(4, "big") * 2
        + (1).to_bytes(4, "big")                       # track_ID
        + bytes(4)                                     # reserved
        + duration.to_bytes(4, "big")
        + bytes(8)                                     # reserved
        + bytes(4)                                     # layer + alternate_group
        + bytes(4)                                     # volume + reserved
        + _MP4_MATRIX
        + (width << 16).to_bytes(4, "big")             # 16.16 fixed-point
        + (height << 16).to_bytes(4, "big"),
    )
    mdhd = _mp4_full(
        b"mdhd", 0, 0,
        (0).to_bytes(4, "big") * 2
        + timescale.to_bytes(4, "big")
        + duration.to_bytes(4, "big")
        + (0x55C4).to_bytes(2, "big")                  # language 'und'
        + bytes(2),
    )
    hdlr = _mp4_full(b"hdlr", 0, 0, bytes(4) + b"vide" + bytes(12) + b"video\x00")
    stsd = _mp4_full(
        b"stsd", 0, 0,
        (1).to_bytes(4, "big")
        + _mp4_box(
            codec,
            bytes(6) + (1).to_bytes(2, "big")   # reserved + data_ref_index
            + bytes(16)                         # pre_defined / reserved
            + width.to_bytes(2, "big")
            + height.to_bytes(2, "big")
            + (0x00480000).to_bytes(4, "big") * 2  # 72 dpi h/v
            + bytes(4)                          # reserved
            + (1).to_bytes(2, "big")            # frame_count
            + bytes(32)                         # compressorname
            + (24).to_bytes(2, "big")           # depth
            + (0xFFFF).to_bytes(2, "big"),      # pre_defined -1
        ),
    )
    stts = _mp4_full(
        b"stts", 0, 0,
        (1).to_bytes(4, "big")
        + n_frames.to_bytes(4, "big")
        + frame_delta.to_bytes(4, "big"),
    )
    stsz = _mp4_full(
        b"stsz", 0, 0,
        (0).to_bytes(4, "big")                  # sample_size 0 = per-entry
        + n_frames.to_bytes(4, "big")
        + b"".join(s.to_bytes(4, "big") for s in sizes),
    )
    stsc = _mp4_full(
        b"stsc", 0, 0,
        (1).to_bytes(4, "big")
        + (1).to_bytes(4, "big")                # first_chunk
        + n_frames.to_bytes(4, "big")           # samples_per_chunk
        + (1).to_bytes(4, "big"),               # sample_description_index
    )
    # stco's chunk offset is file-absolute, and moov's size depends on the
    # fixed-size stco (20 bytes) itself — compute the layout directly.
    stbl_partial = stsd + stts + stsc + stsz
    moov_payload_len = (
        len(mvhd)
        + 8 + len(tkhd)                               # trak header + tkhd
        + 8                                           # mdia header
        + len(mdhd) + len(hdlr)
        + 8                                           # minf header
        + 8 + len(stbl_partial) + 20                  # stbl incl. stco
    )
    ftyp = _mp4_box(b"ftyp", b"isom" + (0).to_bytes(4, "big") + b"isom")
    chunk_off = len(ftyp) + 8 + moov_payload_len + 8  # + moov, mdat headers
    stco = _mp4_full(
        b"stco", 0, 0,
        (1).to_bytes(4, "big") + chunk_off.to_bytes(4, "big"),
    )
    stbl = _mp4_box(b"stbl", stbl_partial + stco)
    minf = _mp4_box(b"minf", stbl)
    mdia = _mp4_box(b"mdia", mdhd + hdlr + minf)
    trak = _mp4_box(b"trak", tkhd + mdia)
    moov = _mp4_box(b"moov", mvhd + trak)
    if frames is not None:
        payload = b"".join(frames)
    else:
        payload = b"".join(
            bytes((j * 11 + i) % 256 for j in range(s))
            for i, s in enumerate(sizes)
        )
    return ftyp + moov + _mp4_box(b"mdat", payload)


def _mp4_walk(buf: bytes, start: int, end: int):
    """Yield (type, payload_start, payload_end) for the boxes tiling
    buf[start:end]; raise ValueError if they don't tile exactly."""
    pos = start
    while pos < end:
        if pos + 8 > end:
            raise ValueError("truncated box header")
        size = int.from_bytes(buf[pos:pos + 4], "big")
        if size == 1:  # 64-bit largesize
            if pos + 16 > end:
                raise ValueError("truncated largesize")
            size = int.from_bytes(buf[pos + 8:pos + 16], "big")
            hdr = 16
        else:
            hdr = 8
        if size < hdr or pos + size > end:
            raise ValueError("box size out of bounds")
        yield buf[pos + 4:pos + 8], pos + hdr, pos + size
        pos += size
    if pos != end:
        raise ValueError("boxes do not tile container")


def _mp4_find(buf: bytes, start: int, end: int, btype: bytes):
    for t, s, e in _mp4_walk(buf, start, end):
        if t == btype:
            return s, e
    return None


def _parse_mp4(blob: bytes) -> dict | None:
    """Shared ISO-BMFF walker: validates the box structure and returns the
    movie header fields plus the first track's raw sample tables. Strict —
    boxes must exactly tile the file and every container, ftyp must come
    first, stts and stsz must agree on the sample count, and the declared
    sample bytes must fit inside mdat — so arbitrary bytes cannot alias
    into the real path."""
    try:
        top = list(_mp4_walk(blob, 0, len(blob)))
        if not top or top[0][0] != b"ftyp":
            return None
        moov = next(((s, e) for t, s, e in top if t == b"moov"), None)
        mdat = next(((s, e) for t, s, e in top if t == b"mdat"), None)
        if moov is None or mdat is None:
            return None
        mvhd = _mp4_find(blob, moov[0], moov[1], b"mvhd")
        trak = _mp4_find(blob, moov[0], moov[1], b"trak")
        if mvhd is None or trak is None:
            return None
        s, e = mvhd
        version = blob[s]
        if version == 0 and e - s >= 24:
            timescale = int.from_bytes(blob[s + 12:s + 16], "big")
            duration = int.from_bytes(blob[s + 16:s + 20], "big")
        elif version == 1 and e - s >= 36:
            timescale = int.from_bytes(blob[s + 20:s + 24], "big")
            duration = int.from_bytes(blob[s + 24:s + 32], "big")
        else:
            return None
        if timescale == 0:
            return None
        tkhd = _mp4_find(blob, trak[0], trak[1], b"tkhd")
        mdia = _mp4_find(blob, trak[0], trak[1], b"mdia")
        if tkhd is None or mdia is None:
            return None
        s, e = tkhd
        # width/height are the last 8 bytes of tkhd in both versions
        if blob[s] not in (0, 1) or e - s < (84 if blob[s] == 0 else 96):
            return None
        width = int.from_bytes(blob[e - 8:e - 4], "big") >> 16
        height = int.from_bytes(blob[e - 4:e], "big") >> 16
        minf = _mp4_find(blob, mdia[0], mdia[1], b"minf")
        stbl = minf and _mp4_find(blob, minf[0], minf[1], b"stbl")
        if not stbl:
            return None
        stts = _mp4_find(blob, stbl[0], stbl[1], b"stts")
        stsz = _mp4_find(blob, stbl[0], stbl[1], b"stsz")
        stsc = _mp4_find(blob, stbl[0], stbl[1], b"stsc")
        stco = _mp4_find(blob, stbl[0], stbl[1], b"stco")
        stsd = _mp4_find(blob, stbl[0], stbl[1], b"stsd")
        # sample-entry fourcc (the track codec): stsd payload is
        # version/flags(4) + entry_count(4) + first entry box
        # [size(4) + fourcc(4) + ...]
        codec = None
        if stsd is not None and stsd[1] - stsd[0] >= 16:
            s = stsd[0]
            if blob[s] == 0 and int.from_bytes(blob[s + 4:s + 8], "big") >= 1:
                codec = blob[s + 12:s + 16]
        if stts is None or stsz is None:
            return None
        s, e = stts
        if blob[s] != 0:
            return None
        n_entries = int.from_bytes(blob[s + 4:s + 8], "big")
        if e - s != 8 + 8 * n_entries:
            return None
        timing = [
            (
                int.from_bytes(blob[s + 8 + 8 * i:s + 12 + 8 * i], "big"),
                int.from_bytes(blob[s + 12 + 8 * i:s + 16 + 8 * i], "big"),
            )
            for i in range(n_entries)
        ]
        n_frames = sum(c for c, _ in timing)
        s, e = stsz
        if blob[s] != 0:
            return None
        fixed = int.from_bytes(blob[s + 4:s + 8], "big")
        count = int.from_bytes(blob[s + 8:s + 12], "big")
        if count != n_frames:
            return None
        if fixed:
            if e - s != 12:
                return None
            sizes = [fixed] * count
        else:
            if e - s != 12 + 4 * count:
                return None
            sizes = [
                int.from_bytes(blob[s + 12 + 4 * i:s + 16 + 4 * i], "big")
                for i in range(count)
            ]
        if sum(sizes) > mdat[1] - mdat[0]:
            return None
        chunk_offsets = stsc_entries = None
        if stco is not None:
            s, e = stco
            if blob[s] != 0:
                return None
            n = int.from_bytes(blob[s + 4:s + 8], "big")
            if e - s != 8 + 4 * n:
                return None
            chunk_offsets = [
                int.from_bytes(blob[s + 8 + 4 * i:s + 12 + 4 * i], "big")
                for i in range(n)
            ]
        if stsc is not None:
            s, e = stsc
            if blob[s] != 0:
                return None
            n = int.from_bytes(blob[s + 4:s + 8], "big")
            if e - s != 8 + 12 * n:
                return None
            stsc_entries = [
                (
                    int.from_bytes(blob[s + 8 + 12 * i:s + 12 + 12 * i], "big"),
                    int.from_bytes(blob[s + 12 + 12 * i:s + 16 + 12 * i], "big"),
                )
                for i in range(n)
            ]
        return {
            "timescale": timescale,
            "duration": duration,
            "width": width,
            "height": height,
            "timing": timing,
            "sizes": sizes,
            "mdat": mdat,
            "chunk_offsets": chunk_offsets,
            "stsc": stsc_entries,
            "codec": codec,
        }
    except ValueError:
        return None


def decode_mp4(blob: bytes) -> tuple[int, int, int, int, int, int] | None:
    """REAL video-metadata decode kernel: ISO-BMFF box walk — ftyp/moov/
    mvhd/trak/tkhd and the stts/stsz sample tables — pure arithmetic, no
    media library (the metadata stage of a video pipeline needs timing
    and size tables, not decoded pictures). Returns (byte_len,
    duration_ms, width, height, n_frames, sample_bytes), or None when the
    payload is not well-formed ISO-BMFF (see `_parse_mp4` for the strict
    validation that keeps arbitrary bytes out)."""
    meta = _parse_mp4(blob)
    if meta is None:
        return None
    return (
        len(blob),
        meta["duration"] * 1000 // meta["timescale"],
        meta["width"],
        meta["height"],
        len(meta["sizes"]),
        sum(meta["sizes"]),
    )


def mp4_sample_table(
    blob: bytes, meta: dict | None = None
) -> list[tuple[int, int, int, int]] | None:
    """REAL frame-sample kernel: walk stts/stsz/stsc/stco to produce one
    (frame_idx, frame_off, frame_bytes, t_ms) row per video sample —
    exactly what a keyframe-seeking extractor reads before touching any
    codec. ``frame_off`` is relative to the mdat payload (file-absolute
    stco offsets minus the located mdat start) so downstream arithmetic
    is container-layout-independent. Returns None for non-MP4 payloads or
    files whose chunk tables are absent/inconsistent. Pass ``meta`` (a
    `_parse_mp4` result for the SAME blob) to skip the re-parse in hot
    loops that already walked the boxes."""
    if meta is None:
        meta = _parse_mp4(blob)
    if meta is None or not meta["chunk_offsets"] or not meta["stsc"]:
        return None
    sizes = meta["sizes"]
    chunk_offsets, stsc = meta["chunk_offsets"], meta["stsc"]
    mdat_start, mdat_end = meta["mdat"]
    # samples-per-chunk for each chunk, from the stsc run-length map
    if stsc[0][0] != 1:
        return None
    spc = []
    for i, (first, per) in enumerate(stsc):
        last = stsc[i + 1][0] - 1 if i + 1 < len(stsc) else len(chunk_offsets)
        if first > last:
            return None
        spc.extend([per] * (last - first + 1))
    if sum(spc) != len(sizes):
        return None
    # absolute offset per sample: chunk base + running size within chunk
    offs = []
    k = 0
    for ci, base in enumerate(chunk_offsets):
        pos = base
        for _ in range(spc[ci]):
            offs.append(pos)
            pos += sizes[k]
            k += 1
    # timestamps from the stts run-length deltas
    ts, t = [], 0
    for count, delta in meta["timing"]:
        for _ in range(count):
            ts.append(t)
            t += delta
    scale = meta["timescale"]
    rows = []
    for i, (off, size) in enumerate(zip(offs, sizes)):
        if off < mdat_start or off + size > mdat_end:
            return None  # sample claims bytes outside mdat
        rows.append((i, off - mdat_start, size, ts[i] * 1000 // scale))
    return rows


MP4_META_SCHEMA = (
    "doc_id long, duration_ms long, width long, height long, "
    "n_frames long, sample_bytes long"
)



def decode_video_blobs(
    df: DataFrame, id_col: str = "doc_id", blob_col: str = "blob"
) -> DataFrame:
    """Decode MP4 payloads to typed metadata via mapInPandas — the video
    twin of `decode_png_blobs`. Non-MP4 payloads yield NULL metadata.
    byte_len is intentionally NOT part of the output: box-layout byte
    counts are not arithmetic-derivable (same reasoning that excluded
    PNG's deflate length)."""
    return _decode_meta_blobs(
        df, decode_mp4,
        ["duration_ms", "width", "height", "n_frames", "sample_bytes"],
        MP4_META_SCHEMA, id_col, blob_col,
    )


MP4_FRAME_SCHEMA = (
    "doc_id long, frame_idx long, frame_off long, frame_bytes long, t_ms long"
)


def sample_mp4_frames(
    df: DataFrame, id_col: str = "doc_id", blob_col: str = "blob"
) -> DataFrame:
    """REAL frame-sample operator: 1:N explode of each MP4 payload into
    its sample-table rows via `mp4_sample_table` (the non-stub successor
    of `sample_frames` for ISO-BMFF payloads — real offsets, sizes, and
    timestamps, no codec needed). Non-MP4 payloads contribute no rows.
    At scale this stage is decode-bound on its INPUT, so partition on the
    blobs, never on the exploded output."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, idxs, offs, sizes, tss = [], [], [], [], []
            for doc, b in zip(pdf[id_col], pdf[blob_col]):
                rows = mp4_sample_table(b)
                for i, off, size, tms in rows or ():
                    ids.append(doc)
                    idxs.append(i)
                    offs.append(off)
                    sizes.append(size)
                    tss.append(tms)
            yield pd.DataFrame(
                {"doc_id": ids, "frame_idx": idxs, "frame_off": offs,
                 "frame_bytes": sizes, "t_ms": tss}
            )

    return df.select(id_col, blob_col).mapInPandas(batches, MP4_FRAME_SCHEMA)



def synth_mp4_blobs(
    df: DataFrame, id_col: str = "doc_id", len_col: str = "n_chars"
) -> DataFrame:
    """MP4 fixture-synthesis stage — the ONE home for the derivation
    arithmetic q40e/q40g's oracles restate (and the stress shapes
    reuse): n_frames = 1 + len%240 at 40 ticks/frame on a 1000
    timescale, track dims 16*(1+|id|%80) x 16*(1+|id|%45), per-frame
    sizes 16+(i%7). Arrow-batched mapInPandas; blobs never leave the
    executors."""

    def make(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            blobs = [
                encode_mp4(
                    1 + int(n) % 240, 40, 1000,
                    16 * (1 + abs(int(d)) % 80),
                    16 * (1 + abs(int(d)) % 45),
                )
                for d, n in zip(pdf[id_col], pdf[len_col])
            ]
            yield pd.DataFrame({id_col: pdf[id_col], "blob": blobs})

    return widen_partitions(df.select(id_col, len_col)).mapInPandas(
        make, f"{id_col} long, blob binary"
    )



# --------------------------------------------------- Motion-JPEG video path
def mp4_codec(blob: bytes) -> bytes | None:
    """The track's stsd sample-entry fourcc (e.g. b'mp4v', b'jpeg'), or
    None if the payload is not a well-formed MP4."""
    meta = _parse_mp4(blob)
    return None if meta is None else meta["codec"]


def decode_mjpeg_frame(
    blob: bytes,
    frame_idx: int,
    meta: dict | None = None,
    table: list[tuple[int, int, int, int]] | None = None,
):
    """REAL video-frame PIXEL decode for the Motion-JPEG family: seek
    ONE sample via the stts/stsz/stsc/stco tables (`mp4_sample_table`),
    slice its bytes out of mdat, and run the full JPEG pixel kernel on
    them (`decode_jpeg_pixels` — huffman + dequant + IDCT, baseline or
    progressive). Returns the (h, w, ch) uint8 array, or None when the
    payload is not MP4, the track codec is not b'jpeg', or the index is
    out of range.

    MJPEG is the intra-frame video family (every sample is a standalone
    JPEG — the webcam/capture/archival format), so frame pixels need no
    codec library and SELECTIVE decode is exact: cost is per SAMPLED
    frame, never per video second. Inter-frame codecs (H.264/VP9/AV1)
    remain the honest environment-blocked stub (module docstring).

    ``meta``/``table`` accept precomputed `_parse_mp4`/`mp4_sample_table`
    results for the SAME blob so hot loops (mjpeg_phash_blobs) parse the
    container once, not three times."""
    if meta is None:
        meta = _parse_mp4(blob)
    if meta is None or meta["codec"] != b"jpeg":
        return None
    if table is None:
        table = mp4_sample_table(blob, meta=meta)
    if table is None or not 0 <= frame_idx < len(table):
        return None
    _, off, size, _ = table[frame_idx]
    mdat_start = meta["mdat"][0]
    return decode_jpeg_pixels(blob[mdat_start + off : mdat_start + off + size])


def mjpeg_phash_blobs(
    df: DataFrame, id_col: str = "doc_id", blob_col: str = "blob"
) -> DataFrame:
    """Per-video perceptual hash over a binary column of MJPEG MP4s:
    walk the sample table, SELECTIVELY decode the middle frame only
    (the cheapest defensible representative — seek + one JPEG decode
    per video regardless of length), collapse to luma with the shared
    convention, pHash. One Arrow-batched mapInPandas projection —
    output (id, n_frames, vhash) is the shuffle key for Hamming-
    bucketed video near-dup, the q158 chain one modality up."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Byte-identical blobs decode to the
        # same (n_frames, vhash) — a per-task memo keyed on the blob
        # bytes skips redundant container walks + JPEG pixel decodes
        # (the q174 fixture repeats each video ~3x per group, and the
        # synth stage colocates groups, so the memo hits ~2/3 of rows).
        memo: dict[bytes, tuple[int, int]] = {}
        for pdf in it:
            ids, counts, hashes = [], [], []
            for d, b in zip(pdf[id_col], pdf[blob_col]):
                blob = bytes(b)
                hit = memo.get(blob)
                if hit is not None:
                    ids.append(d)
                    counts.append(hit[0])
                    hashes.append(hit[1])
                    continue
                meta = _parse_mp4(blob)
                table = (
                    mp4_sample_table(blob, meta=meta)
                    if meta is not None else None
                )
                if table is None:
                    raise ValueError("mjpeg_phash_blobs: not a valid MP4")
                px = decode_mjpeg_frame(
                    blob, len(table) // 2, meta=meta, table=table
                )
                if px is None:
                    raise ValueError("mjpeg_phash_blobs: not an MJPEG track")
                h = phash64(_pixels_to_luma(px))
                memo[blob] = (len(table), h)
                ids.append(d)
                counts.append(len(table))
                hashes.append(h)
            yield pd.DataFrame(
                {id_col: ids, "n_frames": counts, "vhash": hashes}
            )

    id_type = df.schema[id_col].dataType.simpleString()
    return df.select(id_col, blob_col).mapInPandas(
        batches, f"{id_col} {id_type}, n_frames long, vhash long"
    )


def synth_mjpeg_blobs(
    df: DataFrame, id_col: str = "doc_id", len_col: str = "n_chars"
) -> DataFrame:
    """MJPEG fixture-synthesis stage — the ONE home for the q174
    derivation arithmetic: every doc in perceptual group g = id//3 gets
    the SAME video (group-determined length n_frames = 3 + g%3, frame f
    a 56x56 grayscale quant-exact JPEG whose 7x7 blocks hold even
    values drawn from an rng seeded by (g, f) — INDEPENDENT patterns
    per group and per frame, so videos dedup exactly by group while a
    wrong frame index changes the hash; an offset-only pattern family
    would alias across groups). 56x56 for the q158c reason: an
    8-aligned 32x32 grid parks 15 pHash DCT coefficients at exact
    zero. Arrow-batched mapInPandas; blobs never leave the executors."""
    import numpy as np

    def make(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Per-task state: the video depends ONLY
        # on the group g — every doc in a group encodes the IDENTICAL
        # blob, so a per-task memo keyed on g cuts the JPEG+MP4 encode
        # bill ~3x. The keyed widen below colocates each group so the
        # memo hits deterministically (round-robin would scatter the 3
        # group members across tasks). Blobs are byte-identical.
        memo: dict[int, bytes] = {}
        for pdf in it:
            blobs = []
            for d in pdf[id_col]:
                g = abs(int(d)) // 3
                blob = memo.get(g)
                if blob is None:
                    n = 3 + g % 3
                    frames = []
                    for f in range(n):
                        rng = np.random.RandomState(
                            (g * 2654435761 + f * 97 + 5) % (2**31)
                        )
                        vals = (28 + 2 * rng.randint(0, 114, 49)).tolist()
                        frames.append(encode_jpeg(56, 56, vals))
                    blob = encode_mp4(
                        n, width=56, height=56,
                        frames=frames, codec=b"jpeg",
                    )
                    memo[g] = blob
                blobs.append(blob)
            yield pd.DataFrame({id_col: pdf[id_col], "blob": blobs})

    return widen_partitions(
        df.select(id_col, len_col),
        key=F.expr(f"abs({id_col}) div 3"),
    ).mapInPandas(make, f"{id_col} long, blob binary")


