"""Audio kernels: PCM WAV (RIFF chunk walk), FLAC (RFC 9639: full
Rice/LPC/stereo decorrelation + MD5), the energy audio fingerprint
(AFP), and the typed audio meta/blob decoders."""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .core import _MAX_DECODE_BYTES, _decode_meta_blobs

def encode_wav(
    n_samples: int, sample_rate: int = 16000, n_channels: int = 1,
    bits: int = 16,
) -> bytes:
    """Pure-Python PCM WAV writer (fixture generator for the real audio
    decode path). Samples are a deterministic sawtooth — content is
    irrelevant to header decode, determinism is not."""
    bytes_per_sample = bits // 8
    frame = n_channels * bytes_per_sample
    body = bytes(
        (i * 7) % 256 for i in range(n_samples * frame)
    )
    byte_rate = sample_rate * frame
    fmt = (
        b"fmt "
        + (16).to_bytes(4, "little")
        + (1).to_bytes(2, "little")            # PCM
        + n_channels.to_bytes(2, "little")
        + sample_rate.to_bytes(4, "little")
        + byte_rate.to_bytes(4, "little")
        + frame.to_bytes(2, "little")
        + bits.to_bytes(2, "little")
    )
    data = b"data" + len(body).to_bytes(4, "little") + body
    if len(body) % 2:
        # RIFF chunks are word-aligned: odd-length data (bits=8, odd
        # n_samples*channels) carries a pad byte that counts toward the
        # RIFF size but NOT the chunk size.
        data += b"\x00"
    riff_len = 4 + len(fmt) + len(data)
    return b"RIFF" + riff_len.to_bytes(4, "little") + b"WAVE" + fmt + data


def encode_wav_samples(
    samples, sample_rate: int = 16000, n_channels: int = 1
) -> bytes:
    """16-bit PCM WAV writer with CALLER-SUPPLIED samples (int16 array
    or anything numpy can cast; interleaved frames when n_channels > 1)
    — the content-carrying sibling of `encode_wav`, needed by audio
    fingerprinting the way `encode_bmp_pixels` is by pHash."""
    import numpy as np

    arr = np.asarray(samples, dtype=np.int16)
    if arr.size % n_channels:
        raise ValueError(
            f"encode_wav_samples: {arr.size} samples do not divide into "
            f"{n_channels} channels"
        )
    body = arr.astype("<i2").tobytes()
    frame = n_channels * 2
    byte_rate = sample_rate * frame
    fmt = (
        b"fmt "
        + (16).to_bytes(4, "little")
        + (1).to_bytes(2, "little")
        + n_channels.to_bytes(2, "little")
        + sample_rate.to_bytes(4, "little")
        + byte_rate.to_bytes(4, "little")
        + frame.to_bytes(2, "little")
        + (16).to_bytes(2, "little")
    )
    data = b"data" + len(body).to_bytes(4, "little") + body
    riff_len = 4 + len(fmt) + len(data)
    return b"RIFF" + riff_len.to_bytes(4, "little") + b"WAVE" + fmt + data


def decode_wav_samples(blob: bytes):
    """REAL sample-decode kernel: the strict `decode_wav` validation plus
    PCM sample extraction. Returns (sample_rate, int16 array of shape
    (n_samples, n_channels)), or None on malformation / non-16-bit
    payloads. Little-endian per the RIFF spec."""
    import numpy as np

    meta = decode_wav(blob)
    if meta is None:
        return None
    _, n_channels, sample_rate, n_samples = meta
    # walk ALL chunks before extracting: a data chunk is allowed to
    # precede fmt in RIFF, and the 16-bit gate must hold regardless of
    # chunk order (decode_wav proved the walk is in-bounds)
    pos, bits, data_off = 12, None, None
    while pos + 8 <= len(blob):
        cid = blob[pos : pos + 4]
        size = int.from_bytes(blob[pos + 4 : pos + 8], "little")
        if cid == b"fmt " and size >= 16:
            bits = int.from_bytes(blob[pos + 22 : pos + 24], "little")
        elif cid == b"data":
            data_off = pos + 8
        pos += 8 + size + (size & 1)
    if bits != 16 or data_off is None:
        return None  # sample extraction is 16-bit-only
    arr = np.frombuffer(
        blob, dtype="<i2", count=n_samples * n_channels, offset=data_off
    )
    return sample_rate, arr.reshape(n_samples, n_channels)



# ------------------------------------------- audio fingerprint (energy AFP)
_AFP_FRAMES = 64


def afp64(samples) -> int:
    """64-bit-class audio fingerprint over a 1-D PCM sample array: split
    into 64 equal frames, per-frame energy (sum of squares — EXACT in
    float64 for int16 input), bit i = energy[i+1] > energy[i] -> 63
    packed bits (the energy-difference scheme of the classic
    Haitsma-Kalker fingerprint family, public knowledge, reduced to its
    time-axis term).

    Comparing ADJACENT energies makes the hash exactly invariant to
    positive gain (every energy scales by gain^2, and integer-valued
    energies under 2^53 compare exactly) — the audio analogue of
    pHash's brightness/contrast invariance."""
    import numpy as np

    a = np.asarray(samples, dtype=np.float64).ravel()
    n = _AFP_FRAMES
    if len(a) < n:
        raise ValueError(f"afp64: need >= {n} samples, got {len(a)}")
    cut = (len(a) // n) * n  # drop the ragged tail for equal frames
    e = (a[:cut] ** 2).reshape(n, cut // n).sum(axis=1)
    bits = e[1:] > e[:-1]
    return int(
        (bits.astype(np.uint64) << np.arange(63, dtype=np.uint64)).sum()
    )


def afp_blobs(
    df: DataFrame, id_col: str = "doc_id", blob_col: str = "blob",
    strict: bool = True,
) -> DataFrame:
    """Per-clip audio fingerprint over a binary column: decode PCM
    samples with the real kernels — magic-byte codec dispatch, WAV or
    FLAC, channels collapsed by summation (gain-safe) —
    then the energy-difference AFP. Arrow-batched mapInPandas; blobs
    never leave the executors, output one BIGINT per row for
    `dedup.hamming_neardup_pairs`. Lossless codecs reproduce identical
    samples, so the SAME clip fingerprints identically whether crawled
    as WAV or FLAC — q160b's cross-codec contract.

    Undecodable payloads: ``strict=True`` raises (fixture pipelines,
    garbage = broken upstream); ``strict=False`` is the robust-ingest
    total shape — NULL fingerprint + ``reason`` column for bad rows
    (including well-formed-but-too-short clips, which `afp64` cannot
    frame), clean rows identical, plan unchanged."""
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            hashes: list = []
            reasons: list = []
            for b in pdf[blob_col]:
                dec = decode_audio_samples(bytes(b))
                if dec is None or dec[1].shape[0] < _AFP_FRAMES:
                    if dec is not None:
                        reason = (f"too short: < {_AFP_FRAMES} samples, "
                                  "cannot frame")
                    else:
                        reason = ("undecodable: not well-formed 16-bit "
                                  "PCM WAV or FLAC")
                    if strict:
                        raise ValueError(f"afp_blobs: {reason}")
                    hashes.append(None)
                    reasons.append(reason)
                    continue
                _, arr = dec
                mono = arr.astype(np.float64).sum(axis=1)
                hashes.append(afp64(mono))
                reasons.append(None)
            out = {
                id_col: pdf[id_col].values,
                "afp": pd.Series(hashes, dtype="Int64"),
            }
            if not strict:
                out["reason"] = pd.Series(reasons, dtype="object")
            yield pd.DataFrame(out)

    id_type = df.schema[id_col].dataType.simpleString()
    schema = f"{id_col} {id_type}, afp long"
    if not strict:
        schema += ", reason string"
    return df.select(id_col, blob_col).mapInPandas(batches, schema)



def decode_wav(blob: bytes) -> tuple[int, int, int, int] | None:
    """REAL audio decode kernel: parse a PCM RIFF/WAVE header — pure
    chunk-walk arithmetic, no codec library. Returns (byte_len,
    n_channels, sample_rate, n_samples), or None when the payload is not
    well-formed PCM WAV (wrong magic, truncated, compressed, chunk-size
    lies) so the caller can fall back. Validation is strict — RIFF size,
    PCM format tag, block-align consistency, and the data chunk bounded
    by the blob — so arbitrary bytes cannot alias into the real path."""
    if len(blob) < 44 or blob[:4] != b"RIFF" or blob[8:12] != b"WAVE":
        return None
    if int.from_bytes(blob[4:8], "little") != len(blob) - 8:
        return None
    pos, fmt, data_len = 12, None, None
    while pos + 8 <= len(blob):
        cid = blob[pos : pos + 4]
        size = int.from_bytes(blob[pos + 4 : pos + 8], "little")
        if pos + 8 + size > len(blob):
            return None
        if cid == b"fmt " and size >= 16:
            fmt = blob[pos + 8 : pos + 24]
        elif cid == b"data":
            data_len = size
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data_len is None:
        return None
    audio_format = int.from_bytes(fmt[0:2], "little")
    n_channels = int.from_bytes(fmt[2:4], "little")
    sample_rate = int.from_bytes(fmt[4:8], "little")
    block_align = int.from_bytes(fmt[12:14], "little")
    bits = int.from_bytes(fmt[14:16], "little")
    if (
        audio_format != 1  # PCM only
        or n_channels == 0
        or sample_rate == 0
        or block_align != n_channels * (bits // 8)
        or block_align == 0
        or data_len % block_align != 0
    ):
        return None
    return len(blob), n_channels, sample_rate, data_len // block_align


# Decode envelope shared by the image kernels: a decoder running inside a
# mapInPandas task must never let a CRAFTED HEADER choose the allocation
# size (a 100-byte blob can declare 65535x65535 pixels — the resulting
# MemoryError is not a ValueError and would kill the task instead of
# falling back to NULL). 64 MiB of raw samples covers any honest fixture
# or thumbnail pipeline by orders of magnitude.

AUDIO_META_SCHEMA = (
    "doc_id long, byte_len long, n_channels long, sample_rate long, "
    "n_samples long"
)


def decode_audio_blobs(
    df: DataFrame, id_col: str = "doc_id", blob_col: str = "blob"
) -> DataFrame:
    """Decode audio payloads to typed metadata via mapInPandas — the
    audio twin of `decode_blobs`. PCM WAV decodes for real
    (`decode_wav`); anything else yields NULL metadata (explicit
    unknown, never fake numbers — audio has no meaningful length-derived
    stub)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc, b in zip(pdf[id_col], pdf[blob_col]):
                meta = decode_wav(b)
                rows.append(
                    (doc, *meta[1:], len(b))
                    if meta
                    else (doc, None, None, None, len(b))
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "n_channels", "sample_rate", "n_samples",
                    "byte_len",
                ],
            )[["doc_id", "byte_len", "n_channels", "sample_rate", "n_samples"]]

    return df.select(id_col, blob_col).mapInPandas(batches, AUDIO_META_SCHEMA)



# ------------------------------------------------- FLAC (lossless audio)
# The remaining common crawled-audio format decodable with NO
# codec library — like PNG, the FLAC spec (RFC 9639, public) is pure
# integer arithmetic: UTF-8-coded frame numbers, Rice-coded residuals,
# fixed/LPC integer predictors, CRC-8/CRC-16 integrity, MD5 of the raw
# PCM. The reference (song9446/kstreamjs) has no media surface; this is
# part of the engine's multimodal extension (SURVEY.md §2B Q40/Q160
# family). Supported subset (documented, like the JPEG/GIF kernels):
# 16-bit streams, fixed blocking, CONSTANT/VERBATIM/FIXED/LPC subframes,
# independent + left/right/mid-side stereo, Rice partitions with escape
# codes, wasted bits. Anything else returns None — never raises.

_FLAC_SAMPLE_RATES = {
    1: 88_200, 2: 176_400, 3: 192_000, 4: 8_000, 5: 16_000, 6: 22_050,
    7: 24_000, 8: 32_000, 9: 44_100, 10: 48_000, 11: 96_000,
}


def _flac_crc8(data) -> int:
    """CRC-8, polynomial x^8+x^2+x+1 (0x07), init 0 — frame header CRC."""
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
    return crc


def _flac_crc16(data) -> int:
    """CRC-16, polynomial x^16+x^15+x^2+1 (0x8005), init 0 — frame CRC."""
    crc = 0
    for b in data:
        crc ^= b << 8
        for _ in range(8):
            crc = (
                ((crc << 1) ^ 0x8005) & 0xFFFF
                if crc & 0x8000
                else (crc << 1) & 0xFFFF
            )
    return crc


def _flac_utf8_encode(n: int) -> bytes:
    """FLAC's extended UTF-8 number coding (frame/sample numbers, up to
    36 bits — same scheme as UTF-8 but allowed to run to 7 bytes)."""
    if n < 0x80:
        return bytes([n])
    for nbytes, bits in ((2, 11), (3, 16), (4, 21), (5, 26), (6, 31), (7, 36)):
        if n < (1 << bits):
            head_ones = (0xFF00 >> nbytes) & 0xFF
            payload = 8 - nbytes - 1
            out = bytearray(
                [head_ones | (n >> (6 * (nbytes - 1))) & ((1 << payload) - 1)]
            )
            for i in range(nbytes - 2, -1, -1):
                out.append(0x80 | ((n >> (6 * i)) & 0x3F))
            return bytes(out)
    raise ValueError("FLAC number exceeds 36 bits")


class _FlacBitWriter:
    """MSB-first bit packer (the FLAC bit order)."""

    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, nbits: int) -> None:
        self.acc = (self.acc << nbits) | (value & ((1 << nbits) - 1))
        self.nbits += nbits
        while self.nbits >= 8:
            self.nbits -= 8
            self.buf.append((self.acc >> self.nbits) & 0xFF)
        self.acc &= (1 << self.nbits) - 1

    def write_unary(self, q: int) -> None:
        # FLAC unary: q zero bits terminated by a one bit
        while q >= 32:
            self.write(0, 32)
            q -= 32
        self.write(1, q + 1)

    def write_bytes(self, bs: bytes) -> None:
        for b in bs:
            self.write(b, 8)

    def align(self) -> None:
        if self.nbits:
            self.write(0, 8 - self.nbits)


class _FlacBitReader:
    """MSB-first bit reader with explicit end detection (returns None
    past the end — callers propagate to a total None result)."""

    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos          # byte position of the NEXT unread byte
        self.acc = 0
        self.nbits = 0

    def read(self, nbits: int):
        while self.nbits < nbits:
            if self.pos >= len(self.data):
                return None
            self.acc = (self.acc << 8) | self.data[self.pos]
            self.pos += 1
            self.nbits += 8
        self.nbits -= nbits
        out = (self.acc >> self.nbits) & ((1 << nbits) - 1)
        self.acc &= (1 << self.nbits) - 1
        return out

    def read_signed(self, nbits: int):
        v = self.read(nbits)
        if v is None:
            return None
        return v - (1 << nbits) if v >= (1 << (nbits - 1)) else v

    def read_unary(self):
        q = 0
        while True:
            b = self.read(1)
            if b is None:
                return None
            if b:
                return q
            q += 1
            if q > 1 << 20:
                return None  # bomb bound: no sane residual quotient

    def byte_aligned(self) -> bool:
        return self.nbits == 0

    def align(self) -> bool:
        """Consume pad bits to the byte boundary; False if any is set."""
        if self.nbits and self.read(self.nbits) != 0:
            return False
        return True


def _flac_utf8_decode(br: _FlacBitReader):
    b0 = br.read(8)
    if b0 is None:
        return None
    if b0 < 0x80:
        return b0
    nbytes = 0
    while b0 & (0x80 >> nbytes):
        nbytes += 1
    if nbytes < 2 or nbytes > 7:
        return None
    n = b0 & (0x7F >> nbytes)
    for _ in range(nbytes - 1):
        b = br.read(8)
        if b is None or (b & 0xC0) != 0x80:
            return None
        n = (n << 6) | (b & 0x3F)
    return n


def _flac_residual(br: _FlacBitReader, blocksize: int, order: int):
    """Rice-coded residual section (both 4- and 5-bit parameter methods,
    partition orders, escape-code verbatim partitions)."""
    method = br.read(2)
    if method not in (0, 1):
        return None
    pbits = 4 if method == 0 else 5
    esc = (1 << pbits) - 1
    po = br.read(4)
    if po is None or blocksize % (1 << po):
        return None
    out = []
    for p in range(1 << po):
        n = blocksize >> po
        if p == 0:
            n -= order
        if n < 0:
            return None
        param = br.read(pbits)
        if param is None:
            return None
        if param == esc:
            nb = br.read(5)
            if nb is None:
                return None
            for _ in range(n):
                v = br.read_signed(nb) if nb else 0
                if v is None:
                    return None
                out.append(v)
        else:
            for _ in range(n):
                q = br.read_unary()
                if q is None:
                    return None
                r = br.read(param) if param else 0
                if r is None:
                    return None
                u = (q << param) | r
                out.append((u >> 1) ^ -(u & 1))
    return out


_FLAC_FIXED_COEFS = {
    0: (), 1: (1,), 2: (2, -1), 3: (3, -3, 1), 4: (4, -6, 4, -1),
}


def _flac_subframe(br: _FlacBitReader, blocksize: int, bps: int):
    """One subframe: CONSTANT / VERBATIM / FIXED(0-4) / LPC(1-32), with
    the wasted-bits run. Returns the channel's sample list or None."""
    if br.read(1) != 0:
        return None
    t = br.read(6)
    if t is None:
        return None
    wasted = 0
    wflag = br.read(1)
    if wflag is None:
        return None
    if wflag:
        u = br.read_unary()
        if u is None:
            return None
        wasted = u + 1
        bps -= wasted
        if bps <= 0:
            return None
    if t == 0:
        v = br.read_signed(bps)
        if v is None:
            return None
        samples = [v] * blocksize
    elif t == 1:
        samples = []
        for _ in range(blocksize):
            v = br.read_signed(bps)
            if v is None:
                return None
            samples.append(v)
    elif 8 <= t <= 12 or t >= 32:
        if t >= 32:
            order = t - 31
        else:
            order = t - 8
        if order > blocksize:
            return None
        samples = []
        for _ in range(order):
            v = br.read_signed(bps)
            if v is None:
                return None
            samples.append(v)
        if t >= 32:  # LPC: precision, shift, coefficients
            prec = br.read(4)
            if prec is None or prec == 15:
                return None
            prec += 1
            shift = br.read_signed(5)
            if shift is None or shift < 0:
                return None
            coefs = []
            for _ in range(order):
                c = br.read_signed(prec)
                if c is None:
                    return None
                coefs.append(c)
        else:
            coefs, shift = _FLAC_FIXED_COEFS[order], 0
        res = _flac_residual(br, blocksize, order)
        if res is None:
            return None
        for r in res:
            pred = 0
            for j, c in enumerate(coefs):
                pred += c * samples[-1 - j]
            samples.append((pred >> shift) + r)
    else:
        return None  # reserved types 2-7, 13-31
    if wasted:
        samples = [s << wasted for s in samples]
    return samples


def decode_flac_samples(blob: bytes):
    """REAL FLAC decode kernel: strict parse of the full container —
    STREAMINFO, metadata-block walk, every frame's sync/CRC-8/CRC-16,
    UTF-8 frame numbering, Rice residuals, fixed/LPC prediction, stereo
    decorrelation (L/S, R/S, M/S) — returning (sample_rate, int16 array
    of shape (n_samples, n_channels)) exactly like `decode_wav_samples`,
    or None on ANY malformation: bad magic, missing/short STREAMINFO,
    non-16-bit streams, CRC mismatch, frame-number discontinuity,
    sample overflow, trailing bytes, or an MD5 (when set in STREAMINFO)
    that does not match the decoded PCM. Pure integer arithmetic per
    RFC 9639 (public); no codec library."""
    import hashlib

    import numpy as np

    if len(blob) < 4 + 4 + 34 or blob[:4] != b"fLaC":
        return None
    pos = 4
    streaminfo = None
    last = False
    while not last:
        if pos + 4 > len(blob):
            return None
        head = blob[pos]
        last = bool(head & 0x80)
        btype = head & 0x7F
        size = int.from_bytes(blob[pos + 1:pos + 4], "big")
        body = blob[pos + 4:pos + 4 + size]
        if len(body) != size:
            return None
        if btype == 0:
            if streaminfo is not None or size != 34:
                return None
            streaminfo = body
        elif btype == 127:
            return None  # invalid block type
        pos += 4 + size
    if streaminfo is None:
        return None
    si = int.from_bytes(streaminfo[:18], "big")
    # 144-bit layout: min_bs(16) max_bs(16) min_fs(24) max_fs(24)
    # rate(20) channels-1(3) bps-1(5) total(36) — shifts from the LSB
    sample_rate = (si >> 44) & 0xFFFFF
    n_channels = ((si >> 41) & 0x7) + 1
    bps = ((si >> 36) & 0x1F) + 1
    total = si & ((1 << 36) - 1)
    md5 = streaminfo[18:34]
    if sample_rate == 0 or bps != 16 or total == 0:
        return None  # 16-bit-only, like decode_wav_samples
    br = _FlacBitReader(blob, pos)
    chans = [[] for _ in range(n_channels)]
    frame_idx = 0
    got = 0
    while got < total:
        if not br.byte_aligned():
            return None
        fstart = br.pos
        if br.read(14) != 0x3FFE or br.read(1) != 0:
            return None
        blocking = br.read(1)
        bs_code = br.read(4)
        sr_code = br.read(4)
        ch_code = br.read(4)
        ss_code = br.read(3)
        if br.read(1) != 0:
            return None
        number = _flac_utf8_decode(br)
        if number is None:
            return None
        if blocking == 0 and number != frame_idx:
            return None  # fixed blocking: the coded number IS the index
        if blocking == 1 and number != got:
            return None  # variable blocking: it is the first SAMPLE index
        if bs_code == 0:
            return None
        elif bs_code == 1:
            blocksize = 192
        elif bs_code <= 5:
            blocksize = 576 << (bs_code - 2)
        elif bs_code == 6:
            v = br.read(8)
            if v is None:
                return None
            blocksize = v + 1
        elif bs_code == 7:
            v = br.read(16)
            if v is None:
                return None
            blocksize = v + 1
        else:
            blocksize = 256 << (bs_code - 8)
        if sr_code == 0:
            fsr = sample_rate
        elif sr_code in _FLAC_SAMPLE_RATES:
            fsr = _FLAC_SAMPLE_RATES[sr_code]
        elif sr_code == 12:
            v = br.read(8)
            fsr = v * 1000 if v is not None else None
        elif sr_code == 13:
            fsr = br.read(16)
        elif sr_code == 14:
            v = br.read(16)
            fsr = v * 10 if v is not None else None
        else:
            return None
        if fsr is None or fsr != sample_rate:
            return None
        if ch_code <= 7:
            nch, mode = ch_code + 1, "indep"
        elif ch_code in (8, 9, 10):
            nch, mode = 2, ("ls", "rs", "ms")[ch_code - 8]
        else:
            return None
        if nch != n_channels:
            return None
        fbps = {0: bps, 1: 8, 2: 12, 4: 16, 5: 20, 6: 24}.get(ss_code)
        if fbps != 16:
            return None
        crc8 = br.read(8)
        if crc8 is None or _flac_crc8(blob[fstart:br.pos - 1]) != crc8:
            return None
        if got + blocksize > total:
            return None
        subs = []
        for c in range(nch):
            sbps = fbps
            if (mode == "ls" and c == 1) or (mode == "rs" and c == 0) \
                    or (mode == "ms" and c == 1):
                sbps += 1  # the side channel carries one extra bit
            s = _flac_subframe(br, blocksize, sbps)
            if s is None:
                return None
            subs.append(s)
        if not br.align():
            return None
        crc16 = br.read(16)
        if crc16 is None or _flac_crc16(blob[fstart:br.pos - 2]) != crc16:
            return None
        if mode == "ls":
            left, side = subs
            subs = [left, [l - s for l, s in zip(left, side)]]
        elif mode == "rs":
            side, right = subs
            subs = [[r + s for r, s in zip(right, side)], right]
        elif mode == "ms":
            mid, side = subs
            lr = []
            for m, s in zip(mid, side):
                m2 = (m << 1) | (s & 1)
                lr.append(((m2 + s) >> 1, (m2 - s) >> 1))
            subs = [[p[0] for p in lr], [p[1] for p in lr]]
        for c in range(n_channels):
            for v in subs[c]:
                if v < -32768 or v > 32767:
                    return None
            chans[c].extend(subs[c])
        got += blocksize
        frame_idx += 1
    if br.pos != len(blob) or got != total:
        return None
    arr = np.empty((total, n_channels), dtype=np.int16)
    for c in range(n_channels):
        arr[:, c] = chans[c]
    if md5 != b"\x00" * 16:
        if hashlib.md5(arr.astype("<i2").tobytes()).digest() != md5:
            return None
    return sample_rate, arr


def _flac_best_rice_param(uvals) -> int:
    """Smallest-cost Rice parameter (classic mean-based estimate, then
    local refinement over p-1/p/p+1 by exact bit cost)."""
    n = len(uvals)
    if n == 0:
        return 0
    total = sum(uvals)
    p = 0
    while (n << (p + 1)) < total and p < 14:
        p += 1

    def cost(k):
        return sum(u >> k for u in uvals) + n * (k + 1)

    best = min(
        (c for c in (p - 1, p, p + 1) if 0 <= c <= 14),
        key=cost,
    )
    return best


def encode_flac_samples(
    samples, sample_rate: int = 16000, n_channels: int = 1,
    block_size: int = 4096, max_order: int = 3,
) -> bytes:
    """Pure-Python FLAC encoder (fixture generator for the real decode
    path, like `encode_wav_samples`/`encode_png`): 16-bit PCM in,
    spec-conformant stream out — STREAMINFO with the PCM MD5, fixed
    blocking, per-channel best FIXED predictor (order 0..``max_order``
    by exact residual cost, CONSTANT when flat), single-partition Rice
    residuals with the escape raw fallback, CRC-8/CRC-16 per frame.
    Round-trips bit-exactly through `decode_flac_samples` (property
    test), and real decoders accept the output (same spec arithmetic).
    """
    import hashlib

    import numpy as np

    arr = np.asarray(samples, dtype=np.int16)
    if arr.size % n_channels:
        raise ValueError(
            f"encode_flac_samples: {arr.size} samples do not divide into "
            f"{n_channels} channels"
        )
    if not 1 <= n_channels <= 8:
        raise ValueError("encode_flac_samples: 1..8 channels")
    frames = arr.reshape(-1, n_channels)
    total = frames.shape[0]
    if total == 0:
        raise ValueError("encode_flac_samples: empty input")
    md5 = hashlib.md5(arr.astype("<i2").tobytes()).digest()
    n_frames = (total + block_size - 1) // block_size
    sizes = [
        min(block_size, total - i * block_size) for i in range(n_frames)
    ]
    # ---- STREAMINFO (34 bytes)
    si = 0
    si = (si << 16) | min(sizes)
    si = (si << 16) | max(sizes)
    si = (si << 24) | 0          # min frame size unknown
    si = (si << 24) | 0          # max frame size unknown
    si = (si << 20) | sample_rate
    si = (si << 3) | (n_channels - 1)
    si = (si << 5) | 15          # bits per sample - 1 = 15
    si = (si << 36) | total
    streaminfo = si.to_bytes(18, "big") + md5
    out = bytearray(b"fLaC")
    out += bytes([0x80]) + (34).to_bytes(3, "big") + streaminfo

    for fi in range(n_frames):
        chunk = frames[fi * block_size:(fi + 1) * block_size]
        bs = chunk.shape[0]
        w = _FlacBitWriter()
        w.write(0x3FFE, 14)
        w.write(0, 1)
        w.write(0, 1)                    # fixed blocking
        w.write(7, 4)                    # 16-bit blocksize-1 follows
        w.write(0, 4)                    # sample rate: from STREAMINFO
        w.write(n_channels - 1, 4)       # independent channels
        w.write(0b100, 3)                # 16 bits per sample
        w.write(0, 1)
        w.write_bytes(_flac_utf8_encode(fi))
        w.write(bs - 1, 16)
        w.write(_flac_crc8(w.buf), 8)
        for c in range(n_channels):
            ch = chunk[:, c].astype(np.int64)
            if bs > 1 and (ch == ch[0]).all():
                w.write(0, 1)
                w.write(0, 6)            # CONSTANT
                w.write(0, 1)
                w.write(int(ch[0]), 16)
                continue
            # best fixed order by exact rice cost of the zigzagged
            # residuals (warmup cost included)
            best = None
            for order in range(0, min(max_order, bs - 1) + 1):
                res = ch.copy()
                for _ in range(order):
                    res = np.diff(res)
                uz = np.where(res >= 0, res * 2, -res * 2 - 1)
                p = _flac_best_rice_param(uz.tolist())
                bits = 16 * order + int((uz >> p).sum()) + len(uz) * (p + 1)
                if best is None or bits < best[0]:
                    best = (bits, order, res, p)
            _, order, res, p = best
            w.write(0, 1)
            w.write(8 + order, 6)        # FIXED subframe, this order
            w.write(0, 1)                # no wasted bits
            for v in ch[:order]:
                w.write(int(v), 16)
            w.write(0, 2)                # rice method: 4-bit params
            w.write(0, 4)                # partition order 0
            # residuals after the warmup (np.diff already dropped them)
            if p <= 14:
                w.write(p, 4)
                for r in res.tolist():
                    u = r * 2 if r >= 0 else -r * 2 - 1
                    w.write_unary(u >> p)
                    if p:
                        w.write(u & ((1 << p) - 1), p)
            else:  # escape: raw residuals (never hit by int16 + order<=3)
                w.write(15, 4)
                w.write(18, 5)
                for r in res.tolist():
                    w.write(int(r), 18)
        w.align()
        w.write(_flac_crc16(w.buf), 16)
        out += w.buf
    return bytes(out)


def decode_audio_samples(blob: bytes):
    """Magic-byte audio-codec dispatch (the `decode_image_pixels`
    analog): RIFF/WAVE -> `decode_wav_samples`, fLaC ->
    `decode_flac_samples`; anything else None. Both kernels return the
    same (sample_rate, int16 (n_samples, n_channels)) contract, so the
    fingerprint chain above is codec-agnostic."""
    if blob[:4] == b"RIFF":
        return decode_wav_samples(blob)
    if blob[:4] == b"fLaC":
        return decode_flac_samples(blob)
    return None
