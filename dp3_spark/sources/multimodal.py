"""Multimodal column plumbing: opaque binary payloads + typed metadata,
processed with Arrow-batched `mapInPandas`.

The decode step is REAL for every container this repo can reach without
codec libraries — and that turned out to be all of them: BMP, PNG
(stdlib zlib), GIF (pure-python LZW), baseline AND progressive JPEG
(pure-numpy DCT + Huffman + successive-approximation scans,
sources/jpeg.py), MJPEG-in-AVI video frames, 16-bit PCM and IMA-ADPCM
WAV audio.  Only arithmetic-coded JPEG and codec-library formats
(H.264, MP3, ...) fall back to the deterministic stub, behind the same
tested mapInPandas plumbing.

At 100 TB: binary payloads stay columnar in Parquet (no row-group
explosion: keep `spark.sql.files.maxPartitionBytes` moderate since rows are
fat); decode runs in mapInPandas over Arrow record batches so bytes cross
the JVM->Python boundary exactly once, vectorized.
"""

from __future__ import annotations

import zlib
from collections.abc import Iterator

import pandas as pd

from dp3_spark.sources.jpeg import (  # noqa: F401
    decode_jpeg,
    encode_jpeg,
    encode_jpeg_progressive,
)

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

POLY_MOD = 1_000_000_007
POLY_BASE = 31

DECODED_SCHEMA = (
    "doc_id long, n_bytes long, content_hash long, format string, "
    "width int, height int"
)


def poly_hash_bytes(data: bytes) -> int:
    """Same polynomial fold as functions.text.poly_hash, over bytes."""
    h = 0
    for b in data:
        h = (h * POLY_BASE + b) % POLY_MOD
    return h


def parse_image_dims(data: bytes) -> tuple[str, int, int] | None:
    """REAL image dimensions from container headers, pure Python — no codec
    libraries: PNG IHDR (spec: the first chunk, width/height big-endian
    uint32 at offsets 16/20), JPEG SOFn segment walk (height/width
    big-endian uint16 at marker payload offsets 3/5), GIF logical screen
    descriptor (width/height little-endian uint16 at offset 6).  Returns
    (format, width, height), or None for anything unrecognized."""
    if len(data) >= 24 and data[:8] == b"\x89PNG\r\n\x1a\n" and data[12:16] == b"IHDR":
        w = int.from_bytes(data[16:20], "big")
        h = int.from_bytes(data[20:24], "big")
        return "png", w, h
    if len(data) >= 10 and data[:6] in (b"GIF87a", b"GIF89a"):
        w = int.from_bytes(data[6:8], "little")
        h = int.from_bytes(data[8:10], "little")
        return "gif", w, h
    if len(data) >= 26 and data[:2] == b"BM":
        w = int.from_bytes(data[18:22], "little", signed=True)
        h = abs(int.from_bytes(data[22:26], "little", signed=True))
        if w > 0 and h > 0:
            return "bmp", w, h
    if len(data) >= 4 and data[:2] == b"\xff\xd8":
        i = 2
        while i + 9 <= len(data):
            if data[i] != 0xFF:
                return None
            marker = data[i + 1]
            if marker == 0xD8 or 0xD0 <= marker <= 0xD7 or marker == 0x01:
                i += 2  # standalone markers: no length field
                continue
            seg_len = int.from_bytes(data[i + 2 : i + 4], "big")
            # SOF0-15 except DHT(C4)/JPG(C8)/DAC(CC) carry dimensions
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                if i + 9 > len(data):
                    return None
                h = int.from_bytes(data[i + 5 : i + 7], "big")
                w = int.from_bytes(data[i + 7 : i + 9], "big")
                return "jpeg", w, h
            i += 2 + seg_len
    return None


def _wav_layout(data: bytes):
    """ONE RIFF chunk walk shared by metadata parse and PCM decode:
    (rate, channels, bits, n_frames, data_off, data_avail) or None.
    'fmt ' carries channels u16 / sample_rate u32 / block_align u16 /
    bits u16; 'data' size / block_align = frame count; data_avail clamps
    the declared chunk size to the bytes actually present (truncated
    files decode what exists instead of crashing)."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        return None
    i = 12
    rate = channels = bits = block_align = None
    n_frames = data_off = data_avail = None
    while i + 8 <= len(data):
        cid = data[i : i + 4]
        csize = int.from_bytes(data[i + 4 : i + 8], "little")
        body = data[i + 8 : i + 8 + csize]
        if cid == b"fmt " and len(body) >= 16:
            channels = int.from_bytes(body[2:4], "little")
            rate = int.from_bytes(body[4:8], "little")
            block_align = int.from_bytes(body[12:14], "little")
            bits = int.from_bytes(body[14:16], "little")
        elif cid == b"data" and block_align:
            n_frames = csize // block_align
            data_off = i + 8
            data_avail = min(csize, len(data) - data_off)
        i += 8 + csize + (csize & 1)  # chunks are word-aligned
    if rate and channels and bits and n_frames is not None:
        return rate, channels, bits, n_frames, data_off, data_avail
    return None


def parse_wav_meta(data: bytes) -> tuple[int, int, int, int] | None:
    """REAL WAV (RIFF) metadata from the container header, pure Python:
    (sample_rate, channels, bits_per_sample, n_frames).  Returns None for
    anything that is not a well-formed WAV."""
    lay = _wav_layout(data)
    return lay[:4] if lay is not None else None


def parse_mp4_meta(data: bytes) -> tuple[int, int] | None:
    """REAL MP4/ISO-BMFF metadata from the box structure, pure Python:
    (timescale, duration) out of moov/mvhd — duration/timescale is the
    presentation length in seconds.  A proper box walk (size+fourcc at
    each level, descend into 'moov' only), not a byte scan, so a stray
    'mvhd' in media data cannot fool it."""
    if len(data) < 12 or data[4:8] != b"ftyp":
        return None

    def walk(lo: int, hi: int, depth: int = 0):
        i = lo
        while i + 8 <= hi:
            size = int.from_bytes(data[i : i + 4], "big")
            four = data[i + 8 - 4 : i + 8]
            if size == 1:  # 64-bit largesize
                if i + 16 > hi:
                    return None
                size = int.from_bytes(data[i + 8 : i + 16], "big")
                body = i + 16
            else:
                body = i + 8
            if size < 8 or i + size > hi:
                return None
            if four == b"moov" and depth == 0:
                r = walk(body, i + size, 1)
                if r is not None:
                    return r
            if four == b"mvhd" and depth == 1:
                if body >= hi:  # empty-body box: malformed, not a crash
                    return None
                ver = data[body]
                if ver == 1 and body + 32 <= hi:
                    ts = int.from_bytes(data[body + 20 : body + 24], "big")
                    dur = int.from_bytes(data[body + 24 : body + 32], "big")
                elif ver == 0 and body + 20 <= hi:
                    ts = int.from_bytes(data[body + 12 : body + 16], "big")
                    dur = int.from_bytes(data[body + 16 : body + 20], "big")
                else:
                    return None
                return ts, dur
            i += size
        return None

    return walk(0, len(data))


AUDIO_SCHEMA = (
    "doc_id long, format string, sample_rate int, channels int, "
    "bits int, n_frames long, duration_s double"
)


def decode_audio_metadata(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """mapInPandas audio-metadata decode: WAV payloads get REAL
    header-parsed (sample_rate, channels, bits, n_frames, duration);
    unrecognized payloads fall back to deterministic pseudo-metadata with
    format='raw' (the same stub discipline as decode_metadata — a real
    deployment swaps the fallback for soundfile/ffprobe in the same batch
    loop, the Spark plumbing is unchanged)."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            fmts, rates, chans, bits_l, frames, durs = [], [], [], [], [], []
            for p in pdf["payload"]:
                b = _payload_bytes(p)
                meta = parse_wav_meta(b)
                if meta is not None:
                    rate, ch, bits, nf = meta
                    fmts.append("wav")
                else:
                    hv = poly_hash_bytes(b)
                    rate, ch, bits, nf = (
                        8000 + hv % 40000, 1 + hv % 2, 16, len(b)
                    )
                    fmts.append("raw")
                rates.append(rate); chans.append(ch); bits_l.append(bits)
                frames.append(nf)
                durs.append(nf / rate if rate else 0.0)
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "format": fmts,
                    "sample_rate": rates,
                    "channels": chans,
                    "bits": bits_l,
                    "n_frames": frames,
                    "duration_s": durs,
                }
            )

    return df.select(id_col, "payload").mapInPandas(decode, AUDIO_SCHEMA)


def with_binary_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Fixture adapter: treat utf-8 bytes of a text column as the opaque
    binary payload (the driver fixtures have no true binary column)."""
    return df.withColumn("payload", F.encode(F.col(text_col), "utf-8"))


def decode_metadata(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """mapInPandas decode: one Arrow batch in, one metadata batch out.
    PNG/JPEG/GIF payloads get REAL header-parsed dimensions
    (parse_image_dims); unrecognized payloads fall back to the
    deterministic pseudo-decode with format='raw'.

    Note ASCII payloads make poly_hash_bytes equal functions.text.poly_hash
    of the text — which is what the DuckDB oracle computes.
    """

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            fmts, widths, heights, hashes, sizes = [], [], [], [], []
            for p in pdf["payload"]:
                b = _payload_bytes(p)
                hv = poly_hash_bytes(b)
                sizes.append(len(b))
                hashes.append(hv)
                parsed = parse_image_dims(b)
                if parsed is None:
                    fmts.append("raw")
                    w, h = 1 + hv % 1024, 1 + (hv // 1024) % 1024
                else:
                    fmt, w, h = parsed
                    fmts.append(fmt)
                widths.append(w)
                heights.append(h)
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "n_bytes": sizes,
                    "content_hash": hashes,
                    "format": fmts,
                    "width": widths,
                    "height": heights,
                }
            )

    return df.select(id_col, "payload").mapInPandas(decode, DECODED_SCHEMA)


def frame_sample_plan(df: DataFrame, *, every_n_bytes: int = 64) -> DataFrame:
    """Frame-sampling plumbing demo: positions to sample from each payload
    (as if keyframes every `every_n_bytes`).  Pure built-ins — the heavy
    decode would consume this plan inside mapInPandas."""
    return df.select(
        "doc_id",
        F.expr(
            f"sequence(cast(0 as bigint), "
            f"greatest(cast(0 as bigint), octet_length(payload) - 1), "
            f"cast({every_n_bytes} as bigint))"
        ).alias("sample_offsets"),
    )


RESIZED_SCHEMA = (
    "doc_id long, out_width int, out_height int, thumb binary, thumb_bytes long"
)


def _payload_bytes(p) -> bytes:
    """Null-safe payload coercion: a NULL binary cell arrives as None and
    must not kill the task — every payload consumer goes through here."""
    return b"" if p is None else bytes(p)


def _stub_thumb(b: bytes, width: int, height: int) -> bytes:
    """Deterministic stub thumbnail: payload tiled/truncated to
    width*height//64 bytes (shared by resize_stub and resize_image's
    non-decodable fallback so the two stay drop-in interchangeable)."""
    n_out = max(1, width * height // 64)
    b = b or b"\x00"
    reps = -(-n_out // len(b))  # ceil
    return (b * reps)[:n_out]


def resize_stub(df: DataFrame, *, width: int = 64, height: int = 64,
                id_col: str = "doc_id") -> DataFrame:
    """Resize plumbing: mapInPandas batch in -> fixed-dimension thumbnail
    payloads out.  The pixel resample is STUBBED (no codec libs): the
    'thumbnail' is the payload tiled/truncated to width*height//64 bytes,
    deterministic so downstream stages have stable inputs.  A real
    deployment swaps the inner loop for PIL/libvips `thumbnail()` on the
    same Arrow batches — the schema, batch shape, and partitioning are
    what this exercises."""
    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            thumbs = [
                _stub_thumb(_payload_bytes(p), width, height)
                for p in pdf["payload"]
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "out_width": width,
                    "out_height": height,
                    "thumb": thumbs,
                    "thumb_bytes": [len(t) for t in thumbs],
                }
            )

    return df.select(id_col, "payload").mapInPandas(resize, RESIZED_SCHEMA)


def extract_features(df: DataFrame, *, dim: int = 16,
                     id_col: str = "doc_id") -> DataFrame:
    """Feature extraction plumbing: payload bytes -> L2-normalized float
    vector (byte histogram folded to `dim` buckets), fully vectorized
    numpy inside mapInPandas.  STUB for a real vision/audio encoder, but
    the output is a genuine `array<float>` embedding column that composes
    with the similarity operators (cosine_topk / LSH / IVF) — the
    multimodal -> embedding -> dedup pipeline end to end."""
    import numpy as np

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for p in pdf["payload"]:
                arr = np.frombuffer(_payload_bytes(p), dtype=np.uint8)
                hist = np.bincount(arr % dim, minlength=dim).astype(np.float64)
                norm = float(np.sqrt((hist * hist).sum()))
                out.append((hist / norm if norm else hist).astype(np.float32))
            yield pd.DataFrame(
                {"doc_id": pdf[id_col].astype("int64"), "features": out}
            )

    return df.select(id_col, "payload").mapInPandas(
        feats, "doc_id long, features array<float>"
    )


# ---------------------------------------------------------------------------
# REAL pixel/sample decode for the codec-free container formats: 24-bit
# uncompressed BMP and 16-bit PCM WAV need nothing but numpy, so for these
# two the decode step is NOT a stub — actual pixels and actual samples flow
# through the same mapInPandas plumbing the stubbed formats use.
# ---------------------------------------------------------------------------


def decode_bmp(data: bytes):
    """24bpp uncompressed BMP -> (height, width, 3) uint8 RGB array, or
    None if not such a BMP.  Pure numpy: BITMAPFILEHEADER pixel offset at
    byte 10, BITMAPINFOHEADER width/height int32 LE at 18/22, bpp u16 at
    28, compression u32 at 30 (must be BI_RGB=0); rows are bottom-up and
    padded to 4 bytes; samples are BGR order."""
    import numpy as np

    if len(data) < 54 or data[:2] != b"BM":
        return None
    off = int.from_bytes(data[10:14], "little")
    w = int.from_bytes(data[18:22], "little", signed=True)
    h = int.from_bytes(data[22:26], "little", signed=True)
    bpp = int.from_bytes(data[28:30], "little")
    comp = int.from_bytes(data[30:34], "little")
    if bpp != 24 or comp != 0 or w <= 0 or h == 0:
        return None
    flip = h > 0
    h = abs(h)
    stride = (w * 3 + 3) & ~3
    if off + stride * h > len(data):
        return None
    rows = np.frombuffer(data, dtype=np.uint8, count=stride * h, offset=off)
    rows = rows.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    if flip:
        rows = rows[::-1]
    return rows[..., ::-1].copy()  # BGR -> RGB


def encode_bmp(arr) -> bytes:
    """(h, w, 3) uint8 RGB -> 24bpp bottom-up BMP bytes (the inverse of
    decode_bmp; used to emit REAL thumbnails and by tests)."""
    import numpy as np

    a = np.asarray(arr, dtype=np.uint8)
    h, w, _ = a.shape
    stride = (w * 3 + 3) & ~3
    body = np.zeros((h, stride), dtype=np.uint8)
    body[:, : w * 3] = a[::-1, :, ::-1].reshape(h, w * 3)  # RGB->BGR, flip
    raw = body.tobytes()
    size = 54 + len(raw)
    header = (
        b"BM"
        + size.to_bytes(4, "little")
        + b"\x00\x00\x00\x00"
        + (54).to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + w.to_bytes(4, "little", signed=True)
        + h.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little")
        + len(raw).to_bytes(4, "little")
        + b"\x00" * 16
    )
    return header + raw


# ----------------------------------------------------------- adpcm audio
# IMA ADPCM (DVI4, public spec — the WAV 0x0011 codec): 4-bit adaptive
# differential PCM, pure integer step/index tables.  With this, the
# "compressed audio" column is genuinely decodable, not a stub.

_IMA_STEPS = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
]
_IMA_INDEX = [-1, -1, -1, -1, 2, 4, 6, 8]


def _ima_clamp16(v: int) -> int:
    return -32768 if v < -32768 else (32767 if v > 32767 else v)


def ima_adpcm_decode(nibbles, predictor: int, index: int):
    """Decode a 4-bit IMA nibble stream given the block header's seed
    (predictor, step index) -> int16 numpy array."""
    import numpy as np

    out = np.empty(len(nibbles), dtype=np.int16)
    idx = max(0, min(88, index))
    pred = _ima_clamp16(predictor)
    for i, n in enumerate(nibbles):
        step = _IMA_STEPS[idx]
        diff = step >> 3
        if n & 1:
            diff += step >> 2
        if n & 2:
            diff += step >> 1
        if n & 4:
            diff += step
        pred = _ima_clamp16(pred - diff if n & 8 else pred + diff)
        idx = max(0, min(88, idx + _IMA_INDEX[n & 7]))
        out[i] = pred
    return out


def ima_adpcm_encode(samples, *, predictor: int = 0, index: int = 0) -> bytes:
    """Encode int16 samples to 4-bit IMA nibbles (packed little-endian,
    two per byte) against the given seed — the seed MUST be the same
    (predictor, step index) the block header hands the decoder, or the
    reconstruction diverges from sample one."""
    import numpy as np

    s = np.asarray(samples, dtype=np.int16)
    if len(s) == 0:
        return b""
    pred = _ima_clamp16(predictor)
    idx = max(0, min(88, index))
    nibbles = []
    for v in s:
        step = _IMA_STEPS[idx]
        delta = int(v) - pred
        n = 0
        if delta < 0:
            n = 8
            delta = -delta
        if delta >= step:
            n |= 4
            delta -= step
        if delta >= step >> 1:
            n |= 2
            delta -= step >> 1
        if delta >= step >> 2:
            n |= 1
        # reconstruct exactly as the decoder will
        diff = step >> 3
        if n & 1:
            diff += step >> 2
        if n & 2:
            diff += step >> 1
        if n & 4:
            diff += step
        pred = _ima_clamp16(pred - diff if n & 8 else pred + diff)
        idx = max(0, min(88, idx + _IMA_INDEX[n & 7]))
        nibbles.append(n)
    packed = bytearray()
    for i in range(0, len(nibbles) - 1, 2):
        packed.append(nibbles[i] | (nibbles[i + 1] << 4))
    if len(nibbles) & 1:
        packed.append(nibbles[-1])
    return bytes(packed)


def decode_wav_adpcm(data: bytes):
    """IMA-ADPCM WAV (format tag 0x11) -> (n, 1) int16 array, or None.
    Mono, block-structured per spec: 4-byte header (predictor i16, step
    index u8, pad) then packed nibbles."""
    import numpy as np

    lay = _wav_layout(data)
    if lay is None:
        return None
    rate, channels, bits, n_frames, data_off, data_avail = lay
    # _wav_layout reports bits-per-sample; ADPCM is tag 17, bits 4
    if bits != 4 or channels != 1 or data_off is None:
        return None
    # block align + samples-per-block from the fmt chunk
    fmt = _wav_fmt_block_align(data)
    if fmt is None:
        return None
    block, spb = fmt
    if not block or block < 5:
        return None
    chunks = []
    pos = data_off
    end = data_off + data_avail
    while pos + 4 <= end:
        blk = data[pos : min(pos + block, end)]
        if len(blk) < 5:
            break
        pred = int.from_bytes(blk[0:2], "little", signed=True)
        idx = blk[2]
        nibbles = []
        for b in blk[4:]:
            nibbles.append(b & 0x0F)
            nibbles.append(b >> 4)
        dec = ima_adpcm_decode(nibbles, pred, idx)
        out = np.concatenate([[np.int16(pred)], dec])
        if spb:
            out = out[:spb]  # drop the odd-nibble pad sample
        chunks.append(out)
        pos += block
    if not chunks:
        return None
    return np.concatenate(chunks).reshape(-1, 1)


def _wav_fmt_block_align(data: bytes):
    """(block_align, samples_per_block) from the fmt chunk; the latter
    from the ADPCM fmt extension (trims the odd-nibble pad), defaulting
    to 0 = no trim."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        return None
    pos = 12
    while pos + 8 <= len(data):
        cid = data[pos : pos + 4]
        ln = int.from_bytes(data[pos + 4 : pos + 8], "little")
        if cid == b"fmt " and ln >= 16:
            ba = int.from_bytes(data[pos + 20 : pos + 22], "little")
            spb = (
                int.from_bytes(data[pos + 26 : pos + 28], "little")
                if ln >= 20 else 0
            )
            return ba, spb
        pos += 8 + ln + (ln & 1)
    return None


def encode_wav_adpcm(samples, *, rate: int = 8000) -> bytes:
    """int16 mono samples -> IMA-ADPCM WAV (one block) — the compressed
    sibling of encode_wav_pcm."""
    import struct

    import numpy as np

    s = np.asarray(samples, dtype=np.int16)
    seed = int(s[0]) if len(s) else 0
    packed = ima_adpcm_encode(s[1:], predictor=seed, index=0) if len(s) > 1 else b""
    body_data = struct.pack("<hBB", seed, 0, 0) + packed
    block = len(body_data)
    spf = len(s)  # true samples per block (excludes any odd-nibble pad)
    fmt = struct.pack(
        "<HHIIHHHH", 0x11, 1, rate, rate * block // max(spf, 1), block, 4, 2, spf
    )
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(body_data)) + body_data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


# ------------------------------------------------------------------ video
# MJPEG-in-AVI: with the baseline JPEG codec real (sources/jpeg.py), a
# motion-JPEG AVI is fully decodable — RIFF chunk walk to the movi LIST,
# one JPEG per 00dc chunk.  This upgrades video from "opaque binary +
# offset plan" to REAL frame extraction.


def parse_avi_frames(data: bytes) -> list[tuple[int, int]] | None:
    """RIFF/AVI walk -> [(offset, size)] of the video frames inside the
    movi LIST (compressed '00dc' / uncompressed '00db' chunks), or None
    if not an AVI.  Offsets point at frame payload bytes (the JPEGs for
    MJPEG), ready for range reads — at 100 TB the index is what ships to
    executors, not the frames."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        return None
    frames: list[tuple[int, int]] = []

    def walk(lo: int, hi: int, depth: int = 0) -> None:
        pos = lo
        while pos + 8 <= hi and depth < 8:
            cid = data[pos : pos + 4]
            ln = int.from_bytes(data[pos + 4 : pos + 8], "little")
            body_lo = pos + 8
            body_hi = min(body_lo + ln, hi)
            if cid == b"LIST" and body_hi - body_lo >= 4:
                walk(body_lo + 4, body_hi, depth + 1)
            elif cid[2:4] in (b"dc", b"db") and cid[:2].isdigit():
                frames.append((body_lo, body_hi - body_lo))
            pos = body_lo + ln + (ln & 1)  # chunks are word-aligned

    walk(12, len(data))
    return frames


def decode_avi_frame(data: bytes, index: int):
    """Decode video frame `index` of an MJPEG AVI to an (h, w, 3) uint8
    RGB array (via decode_jpeg), or None if absent/undecodable."""
    frames = parse_avi_frames(data)
    if not frames or not (0 <= index < len(frames)):
        return None
    off, ln = frames[index]
    return decode_jpeg(data[off : off + ln])


def encode_avi_mjpeg(frames_rgb, *, fps: int = 10) -> bytes:
    """RGB frames -> minimal spec-shaped MJPEG AVI (RIFF/hdrl/avih/strl +
    movi with one 00dc JPEG per frame + idx1) — decode_avi_frame's
    inverse, used by fixtures and the frame-extraction gate."""
    import numpy as np

    jpegs = [encode_jpeg(np.asarray(f, dtype=np.uint8)) for f in frames_rgb]
    h, w, _ = np.asarray(frames_rgb[0]).shape

    def chunk(cid: bytes, body: bytes) -> bytes:
        return cid + len(body).to_bytes(4, "little") + body + (b"\x00" if len(body) & 1 else b"")

    def lst(kind: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", kind + body)

    avih = chunk(
        b"avih",
        (10**6 // fps).to_bytes(4, "little") + b"\x00" * 12
        + len(jpegs).to_bytes(4, "little") + b"\x00" * 4
        + (1).to_bytes(4, "little") + b"\x00" * 4
        + w.to_bytes(4, "little") + h.to_bytes(4, "little") + b"\x00" * 16,
    )
    strh = chunk(
        b"strh",
        b"vids" + b"MJPG" + b"\x00" * 12
        + (1).to_bytes(4, "little") + fps.to_bytes(4, "little")
        + b"\x00" * 4 + len(jpegs).to_bytes(4, "little") + b"\x00" * 16,
    )
    strf = chunk(
        b"strf",
        (40).to_bytes(4, "little")
        + w.to_bytes(4, "little", signed=True) + h.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
        + b"MJPG" + (w * h * 3).to_bytes(4, "little") + b"\x00" * 16,
    )
    movi_body = b"".join(chunk(b"00dc", j) for j in jpegs)
    idx = bytearray()
    off = 4  # idx1 offsets are relative to the start of the movi LIST body
    for j in jpegs:
        idx += b"00dc" + (0x10).to_bytes(4, "little")
        idx += off.to_bytes(4, "little") + len(j).to_bytes(4, "little")
        off += 8 + len(j) + (len(j) & 1)
    body = (
        b"AVI "
        + lst(b"hdrl", avih + lst(b"strl", strh + strf))
        + lst(b"movi", movi_body)
        + chunk(b"idx1", bytes(idx))
    )
    return b"RIFF" + len(body).to_bytes(4, "little") + body


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _paeth(a: int, b: int, c: int) -> int:
    """Paeth predictor (PNG spec §9, public): nearest of left/up/up-left
    to the linear gradient p = a + b - c, ties left > up > up-left."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def decode_png(data: bytes):
    """8-bit truecolor PNG -> (h, w, 3) uint8 RGB array, or None if not a
    PNG this decoder covers (color type 2, bit depth 8, no interlace).
    Pure stdlib zlib + numpy: walk chunks, inflate the concatenated IDAT
    stream, then undo the per-row filter (None/Sub/Up/Average/Paeth).
    Sub/Up unfilter vectorized (mod-256 cumsum / row add); Average/Paeth
    need the sequential scan the spec defines.  RGBA (color type 6)
    decodes too — alpha dropped — since encoders commonly emit it."""
    import numpy as np

    if len(data) < 8 + 25 or not data.startswith(_PNG_SIG):
        return None
    pos, w = 8, None
    idat = bytearray()
    h = bit_depth = color = interlace = None
    while pos + 8 <= len(data):
        ln = int.from_bytes(data[pos : pos + 4], "big")
        typ = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + ln]
        if len(body) < ln:
            return None
        if typ == b"IHDR":
            if ln < 13:
                return None
            w = int.from_bytes(body[0:4], "big")
            h = int.from_bytes(body[4:8], "big")
            bit_depth, color = body[8], body[9]
            interlace = body[12]
        elif typ == b"IDAT":
            idat += body
        elif typ == b"IEND":
            break
        pos += 12 + ln  # len + type + crc (crc not verified: not integrity-critical here)
    if w is None or not idat or bit_depth != 8 or color not in (2, 6) or interlace != 0:
        return None
    if w <= 0 or h <= 0:
        return None
    bpp = 3 if color == 2 else 4
    stride = w * bpp
    need = h * (stride + 1)
    if need > 256 * 1024 * 1024:  # refuse absurd declared dimensions
        return None
    try:
        # bounded inflate: payloads are untrusted corpus bytes, and a
        # ~100-byte deflate bomb would otherwise allocate gigabytes —
        # never decompress more than the h x stride the header declares
        raw = zlib.decompressobj().decompress(bytes(idat), need)
    except zlib.error:
        return None
    if len(raw) < need:
        return None
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        row = np.frombuffer(raw, dtype=np.uint8, count=stride + 1, offset=y * (stride + 1))
        ftype, filt = row[0], row[1:]
        if ftype == 0:  # None
            rec = filt.copy()
        elif ftype == 1:  # Sub: mod-256 prefix sum per byte lane
            lanes = filt.reshape(w, bpp).astype(np.uint64)
            rec = (np.cumsum(lanes, axis=0) % 256).astype(np.uint8).reshape(stride)
        elif ftype == 2:  # Up
            rec = filt + prev
        elif ftype == 3:  # Average
            rec = np.empty(stride, dtype=np.uint8)
            for x in range(stride):
                left = int(rec[x - bpp]) if x >= bpp else 0
                rec[x] = (int(filt[x]) + (left + int(prev[x])) // 2) & 0xFF
        elif ftype == 4:  # Paeth
            rec = np.empty(stride, dtype=np.uint8)
            for x in range(stride):
                left = int(rec[x - bpp]) if x >= bpp else 0
                ul = int(prev[x - bpp]) if x >= bpp else 0
                rec[x] = (int(filt[x]) + _paeth(left, int(prev[x]), ul)) & 0xFF
            rec = np.asarray(rec, dtype=np.uint8)
        else:
            return None
        out[y] = rec
        prev = rec
    px = out.reshape(h, w, bpp)
    return px[..., :3].copy() if bpp == 4 else px.reshape(h, w, 3)


def _lzw_decode(data: bytes, min_code_size: int, max_pixels: int):
    """GIF-variant LZW decode (spec appendix F, public): variable-width
    codes starting at min_code_size+1 bits, CLEAR resets the table, EOI
    ends the stream; output is bounded by max_pixels so malformed streams
    can't balloon."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    # bit reader: GIF packs codes LSB-first
    acc = nbits = pos = 0

    def read(width):
        nonlocal acc, nbits, pos
        while nbits < width:
            if pos >= len(data):
                return None
            acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        return code

    table = [bytes([i]) for i in range(clear)] + [b"", b""]
    width = min_code_size + 1
    prev = None
    while True:
        code = read(width)
        if code is None or code == eoi:
            break
        if code == clear:
            table = table[: clear + 2]
            width = min_code_size + 1
            prev = None
            continue
        if code < len(table):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]
        else:
            return None  # corrupt stream
        out += entry
        if len(out) >= max_pixels:
            break
        if prev is not None:
            table.append(prev + entry[:1])
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = entry
    return bytes(out[:max_pixels])


def _lzw_encode(indices: bytes, min_code_size: int) -> bytes:
    """GIF-variant LZW encode — _lzw_decode's inverse (textbook greedy
    longest-match with the GIF width-growth and CLEAR-at-4096 rules)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    acc = nbits = 0

    def emit(code, width):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1
    width = min_code_size + 1
    emit(clear, width)
    run = b""
    for b in indices:
        cand = run + bytes([b])
        if cand in table:
            run = cand
            continue
        emit(table[run], width)
        table[cand] = next_code
        next_code += 1
        if next_code > (1 << width) and width < 12:
            width += 1
        if next_code >= 4096:
            emit(clear, width)
            table = {bytes([i]): i for i in range(clear)}
            next_code = eoi + 1
            width = min_code_size + 1
        run = bytes([b])
    if run:
        emit(table[run], width)
    emit(eoi, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


_GIF_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def decode_gif(data: bytes):
    """First frame of a GIF87a/GIF89a -> (h, w, 3) uint8 RGB array, or
    None.  Pure python/numpy: logical screen + color tables + sub-block
    concatenation + LZW decode + optional deinterlace.  Extensions
    (graphic control, comments, application) are skipped; animations
    yield their first image descriptor."""
    import numpy as np

    if len(data) < 13 or data[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    packed = data[10]
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        if pos + 3 * n > len(data):
            return None
        gct = np.frombuffer(data, np.uint8, 3 * n, pos).reshape(n, 3)
        pos += 3 * n
    while pos < len(data):
        b = data[pos]
        if b == 0x3B:  # trailer
            return None
        if b == 0x21:  # extension: label + sub-blocks
            pos += 2
            while pos < len(data) and data[pos] != 0:
                pos += 1 + data[pos]
            pos += 1
            continue
        if b != 0x2C:
            return None
        # image descriptor
        if pos + 10 > len(data):
            return None
        w = int.from_bytes(data[pos + 5 : pos + 7], "little")
        h = int.from_bytes(data[pos + 7 : pos + 9], "little")
        ipk = data[pos + 9]
        pos += 10
        pal = gct
        if ipk & 0x80:
            n = 2 << (ipk & 0x07)
            if pos + 3 * n > len(data):
                return None
            pal = np.frombuffer(data, np.uint8, 3 * n, pos).reshape(n, 3)
            pos += 3 * n
        if pal is None or w <= 0 or h <= 0 or w * h > 64 * 1024 * 1024:
            return None
        if pos >= len(data):
            return None
        mcs = data[pos]
        pos += 1
        if not (2 <= mcs <= 11):
            return None
        stream = bytearray()
        while pos < len(data) and data[pos] != 0:
            ln = data[pos]
            stream += data[pos + 1 : pos + 1 + ln]
            pos += 1 + ln
        idx = _lzw_decode(bytes(stream), mcs, w * h)
        if idx is None or len(idx) < w * h:
            return None
        arr = np.frombuffer(idx, np.uint8, w * h).reshape(h, w)
        if ipk & 0x40:  # interlaced: rows arrive in 4 passes
            rows = []
            for start, step in _GIF_INTERLACE_PASSES:
                rows.extend(range(start, h, step))
            de = np.empty_like(arr)
            de[rows] = arr
            arr = de
        if int(arr.max()) >= len(pal):
            return None
        return pal[arr]
    return None


def encode_gif(arr, *, palette=None) -> bytes:
    """(h, w, 3) uint8 RGB -> single-frame GIF89a — decode_gif's inverse.
    The image must use <= 256 distinct colors (true for synthesized
    gates); `palette` pre-pins the color order for determinism, else
    colors are indexed in first-seen scan order."""
    import numpy as np

    a = np.asarray(arr, dtype=np.uint8)
    h, w, _ = a.shape
    flat = a.reshape(-1, 3)
    if palette is None:
        _, first = np.unique(
            flat.view([("", np.uint8)] * 3), return_index=True
        )
        palette = flat[np.sort(first)]
    pal = np.asarray(palette, dtype=np.uint8)
    if len(pal) > 256:
        raise ValueError("encode_gif needs <= 256 distinct colors")
    lut = {tuple(c): i for i, c in enumerate(pal)}
    idx = bytes(lut[tuple(px)] for px in flat)
    bits = max(2, int(len(pal) - 1).bit_length())
    n_pal = 1 << bits
    table = np.zeros((n_pal, 3), dtype=np.uint8)
    table[: len(pal)] = pal
    mcs = bits
    lzw = _lzw_encode(idx, mcs)
    blocks = bytearray()
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        blocks.append(len(chunk))
        blocks += chunk
    blocks.append(0)
    return (
        b"GIF89a"
        + w.to_bytes(2, "little") + h.to_bytes(2, "little")
        + bytes([0x80 | (bits - 1), 0, 0])
        + table.tobytes()
        + b"\x2C" + b"\x00" * 4
        + w.to_bytes(2, "little") + h.to_bytes(2, "little")
        + b"\x00"
        + bytes([mcs])
        + bytes(blocks)
        + b"\x3B"
    )


def _png_chunk(typ: bytes, body: bytes) -> bytes:
    return (
        len(body).to_bytes(4, "big") + typ + body
        + zlib.crc32(typ + body).to_bytes(4, "big")
    )


def encode_png(arr) -> bytes:
    """(h, w, 3) uint8 RGB -> 8-bit truecolor PNG bytes — decode_png's
    inverse.  Each row is filtered with type (row % 5), deliberately
    cycling through None/Sub/Up/Average/Paeth so a round-trip exercises
    every unfilter branch (the mm_png_decode driver gate relies on this)."""
    import numpy as np

    a = np.asarray(arr, dtype=np.uint8)
    h, w, _ = a.shape
    bpp = 3
    flat = a.reshape(h, w * bpp).astype(np.int32)
    lines = bytearray()
    prev = np.zeros(w * bpp, dtype=np.int32)
    for y in range(h):
        cur = flat[y]
        ftype = y % 5
        if ftype == 0:
            filt = cur.copy()
        elif ftype == 1:
            left = np.concatenate([np.zeros(bpp, dtype=np.int32), cur[:-bpp]])
            filt = cur - left
        elif ftype == 2:
            filt = cur - prev
        elif ftype == 3:
            left = np.concatenate([np.zeros(bpp, dtype=np.int32), cur[:-bpp]])
            filt = cur - (left + prev) // 2
        else:
            filt = np.empty(w * bpp, dtype=np.int32)
            for x in range(w * bpp):
                left = int(cur[x - bpp]) if x >= bpp else 0
                ul = int(prev[x - bpp]) if x >= bpp else 0
                filt[x] = cur[x] - _paeth(left, int(prev[x]), ul)
        lines.append(ftype)
        lines += (filt & 0xFF).astype(np.uint8).tobytes()
        prev = cur
    ihdr = (
        w.to_bytes(4, "big") + h.to_bytes(4, "big")
        + bytes([8, 2, 0, 0, 0])  # depth 8, truecolor, deflate, adaptive, no interlace
    )
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(lines), 6))
        + _png_chunk(b"IEND", b"")
    )


def decode_wav_pcm(data: bytes):
    """16-bit PCM WAV -> (n_frames, channels) int16 numpy array, or None.
    One shared chunk walk (_wav_layout) locates the data chunk; samples
    come straight off np.frombuffer (little-endian interleaved)."""
    import numpy as np

    lay = _wav_layout(data)
    if lay is None:
        return None
    rate, channels, bits, n_frames, data_off, data_avail = lay
    if bits != 16 or n_frames == 0 or data_off is None:
        return None
    n = data_avail // (2 * channels) * channels
    if n <= 0:
        return None
    pcm = np.frombuffer(data, dtype="<i2", count=n, offset=data_off)
    return pcm.reshape(-1, channels)


def resize_image(df: DataFrame, *, width: int = 64, height: int = 64,
                 id_col: str = "doc_id") -> DataFrame:
    """REAL resize for decodable payloads: 24bpp BMPs, 8-bit truecolor
    PNGs, paletted GIFs, and baseline/progressive JPEGs decode to pixel
    arrays, resample nearest-neighbor (pure numpy index math), and
    re-encode as BMP thumbnails; everything else (arithmetic JPEG,
    compressed audio/video) falls back to the deterministic stub bytes.  Same schema/batching as
    resize_stub, so the two are drop-in interchangeable — format coverage
    is the only difference."""
    import numpy as np

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            thumbs = []
            for p in pdf["payload"]:
                b = _payload_bytes(p)
                img = decode_bmp(b)
                if img is None:
                    img = decode_png(b)
                if img is None:
                    img = decode_gif(b)
                if img is None:
                    img = decode_jpeg(b)
                if img is not None:
                    ys = (np.arange(height) * img.shape[0]) // height
                    xs = (np.arange(width) * img.shape[1]) // width
                    thumbs.append(encode_bmp(img[ys][:, xs]))
                else:
                    thumbs.append(_stub_thumb(b, width, height))
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "out_width": width,
                    "out_height": height,
                    "thumb": thumbs,
                    "thumb_bytes": [len(t) for t in thumbs],
                }
            )

    return df.select(id_col, "payload").mapInPandas(resize, RESIZED_SCHEMA)


AUDIO_FEATURE_SCHEMA = (
    "doc_id long, n_frames long, rms double, zero_cross_rate double, "
    "peak double"
)


def audio_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """REAL signal features for WAV payloads — 16-bit PCM and IMA-ADPCM
    compressed (rms, zero-crossing rate, peak — all vectorized numpy over
    the first channel); non-WAV payloads yield null features but keep
    their row, so the operator is total over mixed corpora."""
    import numpy as np

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            nf, rms, zcr, peak = [], [], [], []
            for p in pdf["payload"]:
                raw = _payload_bytes(p)
                pcm = decode_wav_pcm(raw)
                if pcm is None:
                    pcm = decode_wav_adpcm(raw)
                if pcm is None:
                    nf.append(None); rms.append(None)
                    zcr.append(None); peak.append(None)
                    continue
                x = pcm[:, 0].astype(np.float64) / 32768.0
                nf.append(len(x))
                rms.append(float(np.sqrt(np.mean(x * x))))
                zcr.append(
                    float(np.mean(np.signbit(x[1:]) != np.signbit(x[:-1])))
                    if len(x) > 1 else 0.0
                )
                peak.append(float(np.max(np.abs(x))))
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "n_frames": pd.array(nf, dtype="Int64"),
                    "rms": pd.array(rms, dtype="float64"),
                    "zero_cross_rate": pd.array(zcr, dtype="float64"),
                    "peak": pd.array(peak, dtype="float64"),
                }
            )

    return df.select(id_col, "payload").mapInPandas(feats, AUDIO_FEATURE_SCHEMA)


def encode_wav_pcm(samples, *, rate: int = 8000, channels: int = 1) -> bytes:
    """int16 samples (flat, interleaved) -> 16-bit PCM RIFF/WAV bytes —
    decode_wav_pcm's inverse (the encode_bmp/decode_bmp pairing pattern);
    used by fixtures/queries that need genuine WAV containers."""
    import struct

    import numpy as np

    pcm = np.asarray(samples, dtype="<i2").tobytes()
    block = 2 * channels
    fmt = struct.pack("<HHIIHH", 1, channels, rate, rate * block, block, 16)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(pcm)) + pcm
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def image_dhash(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    block: int = 4,
    grid_h: int = 8,
    grid_w: int = 8,
    on_error: str = "raise",
) -> DataFrame:
    """Perceptual difference-hash over REAL decoded image payloads (PNG or
    BMP auto-detected): average-pool an integer fixed-point luma plane ((2R+5G+B)//8 —
    exactly the channel value on gray frames) to a (grid_h, grid_w)
    grid of `block`x`block` integer block SUMS, then bit (r, c) =
    sum(r, c) > sum(r, c+1) — the standard dHash horizontal-gradient
    sign pattern (grid_h * (grid_w-1) bits; 8x8 -> 56 bits, which keeps
    the packed key strictly positive in int64 for both engines' shift
    semantics).  Comparing SUMS, not means, avoids division entirely:
    every bit is exact integer arithmetic, so the hash is reproducible
    bit-for-bit from the pixel values in any engine.

    One mapInPandas crossing (the codec); the downstream near-dup join
    (dedup.hamming_pairs) runs on the packed int64 JVM-side.

    ``on_error``: 'raise' (default, strict — the whole job fails on the
    first undecodable or wrong-size payload) or 'skip' (quarantine: the
    bad row is dropped from the signature output instead of aborting a
    corpus-scale dedup for one malformed frame; at 100 TB a handful of
    corrupt payloads is the norm, not the exception)."""
    import numpy as np

    if on_error not in ("raise", "skip"):
        raise ValueError(f"on_error must be 'raise' or 'skip', got {on_error!r}")
    strict = on_error == "raise"
    nbits_row = grid_w - 1
    H, W = grid_h * block, grid_w * block

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, hashes = [], []
            for did, p in zip(pdf[id_col], pdf[payload_col]):
                try:
                    data = _payload_bytes(p)
                    img = decode_png(data) if data[:4] == b"\x89PNG" else decode_bmp(data)
                except Exception:
                    if strict:
                        raise
                    continue
                img = np.asarray(img)
                if img.ndim < 2 or img.shape[0] != H or img.shape[1] != W:
                    if not strict:
                        continue
                    raise ValueError(
                        f"image_dhash expects {H}x{W} frames, got {img.shape}"
                    )
                # integer fixed-point luma (2R+5G+B)//8 — exact (no float
                # weights), reduces to the channel value on gray frames
                rgb = img.astype(np.int64)
                luma = (2 * rgb[..., 0] + 5 * rgb[..., 1] + rgb[..., 2]) // 8
                sums = luma.reshape(grid_h, block, grid_w, block).sum(axis=(1, 3))
                bits = sums[:, :-1] > sums[:, 1:]
                idx = (
                    np.arange(grid_h).reshape(-1, 1) * nbits_row
                    + np.arange(nbits_row).reshape(1, -1)
                )
                hashes.append(int((bits.astype(np.int64) << idx).sum()))
                ids.append(int(did))
            yield pd.DataFrame({"id": ids, "dhash": hashes})

    return df.select(id_col, payload_col).mapInPandas(run, "id long, dhash long")


def image_dup_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    max_hamming: int = 2,
    on_error: str = "raise",
) -> DataFrame:
    """Near-duplicate image pairs: real decode -> dHash -> pigeonhole
    Hamming blocking (dedup.hamming_pairs — the text-SimHash machinery
    reused on a perceptual hash).  The image-dedup stage of a multimodal
    training-data pipeline: one codec crossing, then pure-codegen
    blocking/verify; never a cartesian product."""
    from dp3_spark.operators.dedup import hamming_pairs

    sig = image_dhash(df, id_col=id_col, payload_col=payload_col, on_error=on_error)
    return hamming_pairs(
        sig, bits=56, max_hamming=max_hamming, id_col="id", sig_col="dhash"
    )
