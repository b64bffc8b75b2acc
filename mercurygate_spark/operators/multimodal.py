"""Multimodal column plumbing (north-star surface): image/audio/video
as opaque ``binary`` columns + typed metadata, processed by
Arrow-batched pandas UDFs over ``mapInPandas``.

Image metadata (format, width, height) is parsed DIRECTLY from the
container headers — PNG IHDR chunk, JPEG SOFn segment, GIF logical
screen descriptor — with zero image-library dependencies (the byte
layouts are public file-format specifications). Payloads that are not
one of these containers get deterministic content-derived placeholder
metadata (sha256 arithmetic) so the pipeline stays total and the
DuckDB oracle can replay every branch.

Scale notes: mapInPandas streams Arrow record batches — constant
memory per task regardless of partition size; binary payloads never
pass through the driver. Set spark.sql.files.maxPartitionBytes down
when average blob size is large so a task's batch fits in memory.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

META_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("sha16", StringType()),  # first 16 hex chars of sha256
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("format", StringType()),
    ]
)

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# JPEG SOFn markers carry the frame dimensions; C4=DHT, C8=JPG
# extension, CC=DAC are in the C0-CF range but are NOT frame headers.
_JPEG_NON_SOF = {0xC4, 0xC8, 0xCC}


def parse_image_header(payload: bytes) -> tuple[str, int, int] | None:
    """(format, width, height) parsed from raw bytes for PNG / JPEG /
    GIF, or None when the payload is none of those. Pure byte
    arithmetic from the public format specs:

    - PNG: 8-byte signature, then the IHDR chunk is mandatory-first —
      big-endian u32 width at offset 16, height at 20.
    - GIF: 'GIF87a'/'GIF89a', little-endian u16 logical-screen width
      at offset 6, height at 8.
    - JPEG: SOI (FFD8), then marker segments; the first SOFn segment
      holds big-endian u16 height at +5, width at +7.
    """
    n = len(payload)
    if n >= 24 and payload[:8] == _PNG_SIG and payload[12:16] == b"IHDR":
        return (
            "png",
            int.from_bytes(payload[16:20], "big"),
            int.from_bytes(payload[20:24], "big"),
        )
    if n >= 10 and payload[:6] in (b"GIF87a", b"GIF89a"):
        return (
            "gif",
            int.from_bytes(payload[6:8], "little"),
            int.from_bytes(payload[8:10], "little"),
        )
    if n >= 4 and payload[:2] == b"\xff\xd8":
        i = 2
        while i + 4 <= n and payload[i] == 0xFF:
            marker = payload[i + 1]
            if marker == 0xFF:  # fill byte
                i += 1
                continue
            if marker == 0x01 or 0xD0 <= marker <= 0xD9:  # standalone marker
                i += 2
                continue
            seg_len = int.from_bytes(payload[i + 2 : i + 4], "big")
            if 0xC0 <= marker <= 0xCF and marker not in _JPEG_NON_SOF:
                if i + 9 > n:
                    return None  # truncated SOF
                return (
                    "jpeg",
                    int.from_bytes(payload[i + 7 : i + 9], "big"),
                    int.from_bytes(payload[i + 5 : i + 7], "big"),
                )
            if seg_len < 2:
                return None  # malformed segment length
            i += 2 + seg_len
    return None


def decode_meta(payload: bytes) -> tuple[int, str, int, int, str]:
    """(n_bytes, sha16, width, height, format) for any payload: real
    header dimensions for PNG/JPEG/GIF; for everything else,
    deterministic sha256-derived placeholder dimensions and format
    'unknown' (content-addressed, so the DuckDB oracle replays it)."""
    h = hashlib.sha256(payload).hexdigest()
    n = len(payload)
    parsed = parse_image_header(payload)
    if parsed is not None:
        fmt, w, ht = parsed
        return n, h[:16], w, ht, fmt
    mp4 = parse_mp4_header(payload)
    if mp4 is not None:  # real container dims for video payloads too
        _, w, ht, _ = mp4
        return n, h[:16], w, ht, "mp4"
    w = (int(h[:4], 16) % 1920) + 1
    ht = (int(h[4:8], 16) % 1080) + 1
    return n, h[:16], w, ht, "unknown"


def _iter_boxes(buf: bytes, start: int, end: int):
    """Yield (type, body_start, box_end) for each ISO-BMFF box in
    buf[start:end] (ISO/IEC 14496-12 §4.2: u32be size + 4-byte type;
    size==1 → u64 largesize followsheader; size==0 → box extends to
    end). Stops silently on any malformed size — callers treat a
    truncated walk as 'not a parseable container'."""
    i = start
    while i + 8 <= end:
        size = int.from_bytes(buf[i : i + 4], "big")
        typ = buf[i + 4 : i + 8]
        hdr = 8
        if size == 1:
            if i + 16 > end:
                return
            size = int.from_bytes(buf[i + 8 : i + 16], "big")
            hdr = 16
        elif size == 0:
            size = end - i
        if size < hdr or i + size > end:
            return
        yield typ, i + hdr, i + size
        i += size


def _find_box(buf: bytes, start: int, end: int, typ: bytes):
    """(body_start, box_end) of the first child box of the given type."""
    for t, b, e in _iter_boxes(buf, start, end):
        if t == typ:
            return b, e
    return None


def parse_mp4_header(payload: bytes) -> tuple[str, int, int, int] | None:
    """(brand, width, height, duration_ms) parsed from an MP4/ISO-BMFF
    container, or None. Pure byte arithmetic from the public spec
    (ISO/IEC 14496-12) — no codec libraries, same pattern as the
    PNG/WAV parsers above:

    - detection: first box is 'ftyp' with a sane size (< 64 KiB, so
      the leading two size bytes are 0x0000 — which also makes this
      branch provably unreachable from NUL-free utf-8 text payloads,
      keeping the multimodal_meta oracle exact);
    - brand: ftyp major_brand (4 ASCII bytes at body start);
    - duration: moov/mvhd — version 0 carries u32 timescale+duration
      at body+12, version 1 u64 duration after u32 timescale at
      body+16; duration_ms = duration * 1000 // timescale;
    - dimensions: moov/trak/tkhd — 16.16 fixed-point width/height in
      the last 8 bytes of the box body (version-independent tail,
      after the 36-byte matrix).
    """
    n = len(payload)
    if n < 20 or payload[4:8] != b"ftyp" or payload[0] != 0 or payload[1] != 0:
        return None
    ftyp_size = int.from_bytes(payload[:4], "big")
    if ftyp_size < 16 or ftyp_size > n:
        return None
    brand = payload[8:12].decode("ascii", errors="replace")

    moov = _find_box(payload, 0, n, b"moov")
    if moov is None:
        return None
    mvhd = _find_box(payload, moov[0], moov[1], b"mvhd")
    if mvhd is None:
        return None
    b, e = mvhd
    version = payload[b]
    if version == 0:
        if b + 24 > e:
            return None
        timescale = int.from_bytes(payload[b + 12 : b + 16], "big")
        duration = int.from_bytes(payload[b + 16 : b + 20], "big")
    else:
        if b + 32 > e:
            return None
        timescale = int.from_bytes(payload[b + 20 : b + 24], "big")
        duration = int.from_bytes(payload[b + 24 : b + 32], "big")
    if timescale == 0:
        return None
    duration_ms = duration * 1000 // timescale

    width = height = 0
    trak = _find_box(payload, moov[0], moov[1], b"trak")
    if trak is not None:
        tkhd = _find_box(payload, trak[0], trak[1], b"tkhd")
        if tkhd is not None:
            tb, te = tkhd
            # width/height are the fixed-position 8-byte tail of tkhd
            # (v0 body = 84 bytes, v1 = 96; both end matrix+w+h)
            if te - tb >= 84:
                width = int.from_bytes(payload[te - 8 : te - 4], "big") >> 16
                height = int.from_bytes(payload[te - 4 : te], "big") >> 16
    return brand, width, height, duration_ms


def _box(typ: bytes, body: bytes) -> bytes:
    return (8 + len(body)).to_bytes(4, "big") + typ + body


def build_mp4(
    width: int,
    height: int,
    duration_ms: int,
    brand: bytes = b"isom",
    version: int = 0,
    mdat: bytes = b"\x00" * 8,
) -> bytes:
    """Deterministic minimal-but-spec-complete MP4 container (ftyp +
    moov[mvhd + trak[tkhd]] + mdat), timescale fixed at 1000 so mvhd
    duration == duration_ms. Used by the oracle-checked round-trip key
    (queries/multimodal.py:multimodal_video_meta) and fixture tests —
    sizes are version-deterministic: v0 = 252 bytes, v1 = 276.

    A version-0 mvhd/tkhd carries u32 duration; durations ≥ 2^32 ms
    auto-upgrade to version 1 (64-bit fields), as real muxers do."""
    if version == 0 and duration_ms >= 2**32:
        version = 1
    ts = (1000).to_bytes(4, "big")
    matrix = (
        (0x00010000).to_bytes(4, "big") + b"\x00" * 12
        + (0x00010000).to_bytes(4, "big") + b"\x00" * 12
        + (0x40000000).to_bytes(4, "big")
    )
    if version == 0:
        mvhd_body = (
            b"\x00\x00\x00\x00"  # version 0 + flags
            + b"\x00" * 8  # creation/modification
            + ts
            + duration_ms.to_bytes(4, "big")
            + (0x00010000).to_bytes(4, "big")  # rate 1.0
            + (0x0100).to_bytes(2, "big")  # volume 1.0
            + b"\x00" * 10  # reserved
            + matrix
            + b"\x00" * 24  # pre_defined
            + (2).to_bytes(4, "big")  # next_track_ID
        )
        tkhd_body = (
            b"\x00\x00\x00\x07"  # version 0 + flags (enabled|in_movie|in_preview)
            + b"\x00" * 8  # creation/modification
            + (1).to_bytes(4, "big")  # track_ID
            + b"\x00" * 4  # reserved
            + duration_ms.to_bytes(4, "big")
            + b"\x00" * 16  # reserved + layer + alt_group + volume + reserved
            + matrix
            + (width << 16).to_bytes(4, "big")
            + (height << 16).to_bytes(4, "big")
        )
    else:
        mvhd_body = (
            b"\x01\x00\x00\x00"
            + b"\x00" * 16  # 64-bit creation/modification
            + ts
            + duration_ms.to_bytes(8, "big")
            + (0x00010000).to_bytes(4, "big")
            + (0x0100).to_bytes(2, "big")
            + b"\x00" * 10
            + matrix
            + b"\x00" * 24
            + (2).to_bytes(4, "big")
        )
        tkhd_body = (
            b"\x01\x00\x00\x07"
            + b"\x00" * 16
            + (1).to_bytes(4, "big")
            + b"\x00" * 4
            + duration_ms.to_bytes(8, "big")
            + b"\x00" * 16
            + matrix
            + (width << 16).to_bytes(4, "big")
            + (height << 16).to_bytes(4, "big")
        )
    ftyp = _box(b"ftyp", brand + (0).to_bytes(4, "big") + brand)
    moov = _box(b"moov", _box(b"mvhd", mvhd_body) + _box(b"trak", _box(b"tkhd", tkhd_body)))
    return ftyp + moov + _box(b"mdat", mdat)


VIDEO_META_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("format", StringType()),
        StructField("brand", StringType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("duration_ms", LongType()),
    ]
)


def decode_video_meta(payload: bytes) -> tuple[int, str, str, int, int, int]:
    """(n_bytes, format, brand, width, height, duration_ms): real
    container fields when the payload parses as MP4/ISO-BMFF or
    WebM/Matroska (brand = EBML DocType for the latter), deterministic
    sha256-derived placeholders otherwise (total function,
    oracle-replayable either way)."""
    n = len(payload)
    parsed = parse_mp4_header(payload)
    if parsed is not None:
        brand, w, ht, dur = parsed
        return n, "mp4", brand, w, ht, dur
    webm = parse_webm_header(payload)
    if webm is not None:
        doc_type, w, ht, dur = webm
        return n, "webm", doc_type, w, ht, dur
    h = hashlib.sha256(payload).hexdigest()
    return (
        n,
        "unknown",
        "",
        (int(h[:4], 16) % 1920) + 1,
        (int(h[4:8], 16) % 1080) + 1,
        (int(h[8:14], 16) % 3_600_000) + 1,
    )


AUDIO_META_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("sha16", StringType()),
        StructField("format", StringType()),
        StructField("sample_rate", LongType()),
        StructField("channels", LongType()),
        StructField("bits_per_sample", LongType()),
    ]
)


def parse_audio_header(payload: bytes) -> tuple[str, int, int, int] | None:
    """(format, sample_rate, channels, bits_per_sample) parsed from raw
    bytes for canonical WAV / FLAC containers, or None. Pure byte
    arithmetic from the public format specs:

    - WAV: 'RIFF' + size + 'WAVE', with the 'fmt ' chunk REQUIRED at
      offset 12 (canonical layout; written by virtually every encoder).
      LE u16 channels at 22, LE u32 sample rate at 24, LE u16 bits at
      34. Non-canonical chunk orders fall through to the placeholder
      branch on purpose — the strict layout keeps the decode exactly
      replayable by the DuckDB oracle.
    - FLAC: 'fLaC' magic, then the STREAMINFO block (type 0,
      mandatory-first): 20-bit sample rate starting at byte 18,
      3-bit channels-1 and 5-bit bits-1 packed after it.
    """
    n = len(payload)
    if (
        n >= 36
        and payload[:4] == b"RIFF"
        and payload[8:12] == b"WAVE"
        and payload[12:16] == b"fmt "
    ):
        ch = int.from_bytes(payload[22:24], "little")
        sr = int.from_bytes(payload[24:28], "little")
        bits = int.from_bytes(payload[34:36], "little")
        return "wav", sr, ch, bits
    if n >= 22 and payload[:4] == b"fLaC" and (payload[4] & 0x7F) == 0:
        b18, b19, b20, b21 = payload[18], payload[19], payload[20], payload[21]
        sr = (b18 << 12) | (b19 << 4) | (b20 >> 4)
        ch = ((b20 >> 1) & 0x7) + 1
        bits = (((b20 & 1) << 4) | (b21 >> 4)) + 1
        return "flac", sr, ch, bits
    return None


def decode_audio_meta(payload: bytes) -> tuple[int, str, str, int, int, int]:
    """(n_bytes, sha16, format, sample_rate, channels, bits) for any
    payload: real header fields for WAV/FLAC; deterministic
    sha256-derived placeholders (format 'unknown') otherwise, so the
    pipeline is total and the DuckDB oracle replays every branch."""
    h = hashlib.sha256(payload).hexdigest()
    n = len(payload)
    parsed = parse_audio_header(payload)
    if parsed is not None:
        fmt, sr, ch, bits = parsed
        return n, h[:16], fmt, sr, ch, bits
    sr = (int(h[8:12], 16) % 48000) + 4000
    ch = (int(h[12], 16) % 2) + 1
    bits = 8 * ((int(h[13], 16) % 2) + 1)
    return n, h[:16], "unknown", sr, ch, bits


def extract_audio_meta(df: DataFrame, id_col: str = "doc_id", bin_col: str = "payload") -> DataFrame:
    """(id, binary) → audio metadata via mapInPandas (Arrow-batched,
    same template as extract_binary_meta — nothing on the driver)."""
    import pandas as pd

    def audio_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                (int(i), *decode_audio_meta(bytes(p)))
                for i, p in zip(pdf[id_col], pdf[bin_col])
            ]
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "n_bytes",
                    "sha16",
                    "format",
                    "sample_rate",
                    "channels",
                    "bits_per_sample",
                ],
            )

    return df.select(F.col(id_col), F.col(bin_col)).mapInPandas(
        audio_batches, AUDIO_META_SCHEMA
    )


def extract_binary_meta(df: DataFrame, id_col: str = "doc_id", bin_col: str = "payload") -> DataFrame:
    """(id, binary) → typed metadata via mapInPandas (Arrow-batched).

    This is the template every real decode/resize/frame-sample op
    follows: per-batch pandas transform, explicit output StructType,
    no driver involvement."""
    import pandas as pd

    def meta_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                (int(i), *decode_meta(bytes(p)))
                for i, p in zip(pdf[id_col], pdf[bin_col])
            ]
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "n_bytes", "sha16", "width", "height", "format"],
            )

    return df.select(F.col(id_col), F.col(bin_col)).mapInPandas(meta_batches, META_SCHEMA)


N_FRAMES = 4
FRAME_BYTES = 8


def sample_frames(df: DataFrame, id_col: str = "doc_id", bin_col: str = "payload") -> DataFrame:
    """Frame sampling for video-like payloads: N_FRAMES fixed-stride
    byte windows per blob (the deterministic stand-in for 'decode and
    take every k-th frame'). Payloads shorter than N_FRAMES*FRAME_BYTES
    are skipped — a real sampler would pad. mapInPandas again: batch
    in, exploded frame rows out, schema declared."""
    import pandas as pd
    from collections.abc import Iterator

    from pyspark.sql.types import IntegerType, LongType, StringType, StructField, StructType

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("frame_idx", IntegerType()),
            StructField("frame_offset", LongType()),
            StructField("frame_hex", StringType()),
        ]
    )

    def frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, p in zip(pdf[id_col], pdf[bin_col]):
                b = bytes(p)
                n = len(b)
                if n < N_FRAMES * FRAME_BYTES:
                    continue
                stride = n // N_FRAMES
                for i in range(N_FRAMES):
                    off = i * stride
                    rows.append((int(did), i, off, b[off : off + FRAME_BYTES].hex().upper()))
            yield pd.DataFrame(rows, columns=["doc_id", "frame_idx", "frame_offset", "frame_hex"])

    return df.select(id_col, bin_col).mapInPandas(frames, schema)


def documents_as_binary(df: DataFrame) -> DataFrame:
    """Adapter for testdata: treat utf-8 text bytes as the opaque
    payload column (the container has no real image fixtures)."""
    return df.select("doc_id", F.encode("text", "UTF-8").alias("payload"))


_ = BinaryType  # re-export hint: payload columns are BinaryType


# ---------------------------------------------------------------------------
# MP3 (ID3v2 + MPEG-1 Layer III frames) — public spec: ISO/IEC 11172-3
# frame header layout + the informal ID3v2.3 tag structure.
# ---------------------------------------------------------------------------

_MP3_RATES = (44100, 48000, 32000)  # MPEG-1 sample-rate index 0..2
_MP3_BITRATES = (  # MPEG-1 Layer III bitrate index 1..14, kbps
    None, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, None,
)


def _syncsafe(n: int) -> bytes:
    """ID3v2 28-bit syncsafe integer (7 bits per byte, high bit 0)."""
    return bytes([(n >> 21) & 0x7F, (n >> 14) & 0x7F, (n >> 7) & 0x7F, n & 0x7F])


def build_mp3(
    sample_rate: int,
    bitrate_kbps: int,
    mono: bool,
    n_frames: int,
    tag_pad: int = 0,
) -> bytes:
    """Deterministic minimal MP3: an ID3v2.3 tag of ``tag_pad`` padding
    bytes followed by ``n_frames`` unpadded MPEG-1 Layer III frames
    (header + zero fill). frame_size = 144*bitrate/sample_rate, so the
    container's byte count and duration are pure integer arithmetic a
    SQL oracle can replay."""
    tag = b"ID3" + bytes([3, 0, 0]) + _syncsafe(tag_pad) + b"\x00" * tag_pad
    sr_idx = _MP3_RATES.index(sample_rate)
    br_idx = _MP3_BITRATES.index(bitrate_kbps)
    frame_size = 144 * bitrate_kbps * 1000 // sample_rate
    hdr = bytes([
        0xFF,
        0xFB,  # sync + MPEG-1 + Layer III + no CRC
        (br_idx << 4) | (sr_idx << 2),  # bitrate idx, sr idx, padding 0
        0xC0 if mono else 0x00,  # channel mode: 3=mono, 0=stereo
    ])
    return tag + (hdr + b"\x00" * (frame_size - 4)) * n_frames


def parse_mp3_header(payload: bytes) -> tuple[int, int, int, int] | None:
    """(sample_rate, channels, bitrate_kbps, duration_ms) for an MP3
    payload (optional ID3v2 tag + MPEG-1 Layer III frames), else None.
    Frames are walked exactly — duration = n_frames * 1152 / rate —
    so VBR streams are timed correctly, not bitrate-estimated."""
    n = len(payload)
    i = 0
    if payload[:3] == b"ID3":
        if n < 10:
            return None
        i = 10 + (
            ((payload[6] & 0x7F) << 21) | ((payload[7] & 0x7F) << 14)
            | ((payload[8] & 0x7F) << 7) | (payload[9] & 0x7F)
        )
    if i + 4 > n or payload[i] != 0xFF or (payload[i + 1] & 0xE0) != 0xE0:
        return None
    b1 = payload[i + 1]
    if (b1 >> 3) & 0x3 != 0b11 or (b1 >> 1) & 0x3 != 0b01:
        return None  # MPEG-1 Layer III only (the canonical .mp3)
    first = payload[i + 2]
    br_idx, sr_idx = first >> 4, (first >> 2) & 0x3
    if _MP3_BITRATES[br_idx] is None or sr_idx == 3:
        return None
    sample_rate = _MP3_RATES[sr_idx]
    bitrate = _MP3_BITRATES[br_idx]
    channels = 1 if payload[i + 3] >> 6 == 0b11 else 2
    frames = 0
    while i + 4 <= n and payload[i] == 0xFF and (payload[i + 1] & 0xE0) == 0xE0:
        f2 = payload[i + 2]
        bi, si, pad = f2 >> 4, (f2 >> 2) & 0x3, (f2 >> 1) & 1
        if _MP3_BITRATES[bi] is None or si == 3:
            break
        fs = 144 * _MP3_BITRATES[bi] * 1000 // _MP3_RATES[si] + pad
        if fs <= 4 or i + fs > n:
            break
        frames += 1
        i += fs
    if frames == 0:
        return None
    return sample_rate, channels, bitrate, frames * 1152 * 1000 // sample_rate


# ---------------------------------------------------------------------------
# Ogg/Vorbis — public specs: RFC 3533 (Ogg page layout) + Vorbis I
# identification header. Duration = last-page granule / sample rate.
# ---------------------------------------------------------------------------


def _ogg_page(header_type: int, granule: int, page_seq: int, packet: bytes) -> bytes:
    assert len(packet) <= 255
    return (
        b"OggS" + b"\x00" + bytes([header_type])
        + granule.to_bytes(8, "little")
        + (1).to_bytes(4, "little")          # bitstream serial
        + page_seq.to_bytes(4, "little")
        + (0).to_bytes(4, "little")          # CRC (not verified here)
        + bytes([1, len(packet)]) + packet
    )


def build_ogg_vorbis(sample_rate: int, channels: int, granule: int) -> bytes:
    """Deterministic two-page Ogg/Vorbis container: a BOS page holding
    the 30-byte Vorbis identification header, and an EOS page whose
    granule position (= total pcm samples) encodes the duration.
    Fixed 94-byte layout — oracle-replayable."""
    ident = (
        b"\x01vorbis" + (0).to_bytes(4, "little")
        + bytes([channels]) + sample_rate.to_bytes(4, "little")
        + b"\x00" * 12      # max/nominal/min bitrate: unset
        + b"\xb8"           # blocksizes 256/2048
        + b"\x01"           # framing bit
    )
    return _ogg_page(0x02, 0, 0, ident) + _ogg_page(0x04, granule, 1, b"\x00" * 8)


def parse_ogg_vorbis(payload: bytes) -> tuple[int, int, int] | None:
    """(sample_rate, channels, duration_ms) for an Ogg/Vorbis payload,
    else None. Canonical-container assumptions (as with the WAV
    parser): the identification header is the first packet of the
    first page and the final 'OggS' capture in the byte stream is the
    last page header (true for every muxer's output; arbitrary packet
    bytes could alias it, at which point we fall to the placeholder
    branch upstream)."""
    n = len(payload)
    if n < 58 or payload[:4] != b"OggS":
        return None
    body = 27 + payload[26]
    if payload[body : body + 7] != b"\x01vorbis" or body + 16 > n:
        return None
    channels = payload[body + 11]
    sample_rate = int.from_bytes(payload[body + 12 : body + 16], "little")
    if channels == 0 or sample_rate == 0:
        return None
    last = payload.rfind(b"OggS")
    if last + 14 > n:
        return None
    granule = int.from_bytes(payload[last + 6 : last + 14], "little")
    return sample_rate, channels, granule * 1000 // sample_rate


# ---------------------------------------------------------------------------
# WebM / Matroska (EBML) — public specs: RFC 8794 (EBML) + the Matroska
# element registry. Dims from Tracks/TrackEntry/Video PixelWidth/Height,
# duration from Info Duration × TimestampScale.
# ---------------------------------------------------------------------------

_WEBM_MAGIC = b"\x1a\x45\xdf\xa3"
# master elements we descend into: EBML header, Segment, Info, Tracks,
# TrackEntry, Video
_EBML_MASTERS = {0x1A45DFA3, 0x18538067, 0x1549A966, 0x1654AE6B, 0xAE, 0xE0}


def _read_vint(buf: bytes, i: int, keep_marker: bool) -> tuple[int, int] | None:
    """EBML variable-length integer at buf[i]: returns (value, next_i).
    Element IDs keep the length-marker bit (the registry lists them
    that way); sizes strip it."""
    if i >= len(buf) or buf[i] == 0:
        return None
    length = 9 - buf[i].bit_length()
    if i + length > len(buf):
        return None
    val = buf[i] if keep_marker else buf[i] & ((1 << (8 - length)) - 1)
    for k in range(1, length):
        val = (val << 8) | buf[i + k]
    return val, i + length


def parse_webm_header(payload: bytes) -> tuple[str, int, int, int] | None:
    """(doc_type, width, height, duration_ms) for a WebM/Matroska
    payload, else None. A recursive EBML walk over the master elements
    only — Cluster payloads are skipped wholesale, so cost is O(header
    bytes) regardless of media size."""
    import struct

    if not payload.startswith(_WEBM_MAGIC):
        return None
    state: dict = {"doc_type": None, "scale": 1_000_000, "dur": None, "w": 0, "h": 0}

    def walk(start: int, end: int) -> None:
        i = start
        while i < end:
            r = _read_vint(payload, i, True)
            if r is None:
                return
            eid, j = r
            r = _read_vint(payload, j, False)
            if r is None:
                return
            size, k = r
            if k + size > end:
                return
            if eid in _EBML_MASTERS:
                walk(k, k + size)
            elif eid == 0x4282:  # DocType
                state["doc_type"] = payload[k : k + size].decode("ascii", "replace")
            elif eid == 0x2AD7B1:  # TimestampScale (ns per tick)
                state["scale"] = int.from_bytes(payload[k : k + size], "big")
            elif eid == 0x4489:  # Duration (float, in ticks)
                if size in (4, 8):
                    state["dur"] = struct.unpack(
                        ">f" if size == 4 else ">d", payload[k : k + size]
                    )[0]
            elif eid == 0xB0:  # PixelWidth
                state["w"] = int.from_bytes(payload[k : k + size], "big")
            elif eid == 0xBA:  # PixelHeight
                state["h"] = int.from_bytes(payload[k : k + size], "big")
            i = k + size

    walk(0, len(payload))
    if state["doc_type"] is None or state["scale"] == 0:
        return None
    dur_ms = 0
    if state["dur"] is not None:
        # ticks × (ns per tick) / 1e6 — with the default 1 ms scale and
        # integral tick counts (every builder/muxer writes whole ms)
        # this is exact: f64 holds integers < 2^53 losslessly.
        dur_ms = int(state["dur"] * (state["scale"] / 1_000_000))
    return state["doc_type"], state["w"], state["h"], dur_ms


def _ebml_elem(eid: bytes, body: bytes) -> bytes:
    assert len(body) < 127  # 1-byte size vint; headers here are tiny
    return eid + bytes([0x80 | len(body)]) + body


def build_webm(width: int, height: int, duration_ms: int) -> bytes:
    """Deterministic minimal WebM: EBML header (DocType 'webm') +
    Segment[Info[TimestampScale 1e6, Duration f64] + Tracks[TrackEntry
    [Video[PixelWidth, PixelHeight]]]]. All fields fixed-width (u16
    dims, f64 duration) → the container is ALWAYS 58 bytes, so the
    oracle replays n_bytes as a constant."""
    import struct

    info = _ebml_elem(
        b"\x15\x49\xa9\x66",
        _ebml_elem(b"\x2a\xd7\xb1", (1_000_000).to_bytes(4, "big"))
        + _ebml_elem(b"\x44\x89", struct.pack(">d", float(duration_ms))),
    )
    video = _ebml_elem(
        b"\xe0",
        _ebml_elem(b"\xb0", width.to_bytes(2, "big"))
        + _ebml_elem(b"\xba", height.to_bytes(2, "big")),
    )
    tracks = _ebml_elem(b"\x16\x54\xae\x6b", _ebml_elem(b"\xae", video))
    header = _ebml_elem(_WEBM_MAGIC, _ebml_elem(b"\x42\x82", b"webm"))
    segment = _ebml_elem(b"\x18\x53\x80\x67", info + tracks)
    return header + segment


def build_jpeg_exif(
    width: int, height: int, orientation: int, little_endian: bool
) -> bytes:
    """Minimal real JPEG+EXIF container: SOI, one APP1 segment holding
    a TIFF structure (II or MM byte order) with IFD0 {Orientation,
    ExifIFDPointer} and an Exif sub-IFD {PixelXDimension,
    PixelYDimension}, then EOI — no scan data, like every builder
    here (the metadata path is what's exercised; pixels would need a
    codec). Both byte orders are emitted so the parser's endianness
    handling is covered by data, not just a branch."""
    import struct

    e = "<" if little_endian else ">"

    def entry(tag: int, typ: int, count: int, value: int) -> bytes:
        return struct.pack(e + "HHI", tag, typ, count) + (
            struct.pack(e + "HH", value, 0)
            if typ == 3  # SHORT: value left-justified in the 4-byte slot
            else struct.pack(e + "I", value)
        )

    exif_ifd_off = 8 + 2 + 2 * 12 + 4  # TIFF header + IFD0 (2 entries)
    ifd0 = (
        struct.pack(e + "H", 2)
        + entry(0x0112, 3, 1, orientation)
        + entry(0x8769, 4, 1, exif_ifd_off)
        + struct.pack(e + "I", 0)
    )
    sub = (
        struct.pack(e + "H", 2)
        + entry(0xA002, 4, 1, width)
        + entry(0xA003, 4, 1, height)
        + struct.pack(e + "I", 0)
    )
    tiff = (
        (b"II" if little_endian else b"MM")
        + struct.pack(e + "H", 42)
        + struct.pack(e + "I", 8)
        + ifd0
        + sub
    )
    app1_content = b"Exif\x00\x00" + tiff
    app1 = b"\xff\xe1" + struct.pack(">H", len(app1_content) + 2) + app1_content
    return b"\xff\xd8" + app1 + b"\xff\xd9"


def parse_jpeg_exif(payload: bytes) -> tuple[str, int, int, int] | None:
    """No-codec EXIF walker: scan JPEG markers for APP1/Exif, then walk
    the TIFF IFDs — endianness from the II/MM magic, Orientation from
    IFD0 (SHORT, left-justified in its value slot), pixel dimensions
    from the Exif sub-IFD. Returns (endian, orientation, width,
    height) or None if any layer of the sandwich is malformed."""
    import struct

    if len(payload) < 4 or payload[:2] != b"\xff\xd8":
        return None
    pos = 2
    tiff = None
    while pos + 2 <= len(payload):
        if payload[pos] != 0xFF:
            return None
        # JPEG allows any number of 0xFF fill bytes before a marker
        # code (ITU-T T.81 §B.1.1.2) — skip them.
        while pos + 1 < len(payload) and payload[pos + 1] == 0xFF:
            pos += 1
        if pos + 2 > len(payload):
            return None
        marker = payload[pos + 1]
        if marker == 0xD9 or marker == 0xDA:
            # EOI, or SOS: entropy-coded data follows with no framed
            # length — an APP1 after this point is not spec-reachable.
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            # TEM / RSTn are standalone markers with no length field.
            pos += 2
            continue
        if pos + 4 > len(payload):
            return None
        seg_len = struct.unpack(">H", payload[pos + 2 : pos + 4])[0]
        if seg_len < 2:
            return None
        body = payload[pos + 4 : pos + 2 + seg_len]
        if marker == 0xE1 and body[:6] == b"Exif\x00\x00":
            tiff = body[6:]
            break
        pos += 2 + seg_len
    if tiff is None or len(tiff) < 8:
        return None
    if tiff[:2] == b"II":
        e, endian = "<", "little"
    elif tiff[:2] == b"MM":
        e, endian = ">", "big"
    else:
        return None
    if struct.unpack(e + "H", tiff[2:4])[0] != 42:
        return None

    def read_ifd(off: int) -> dict[int, tuple[int, int, bytes]]:
        n = struct.unpack(e + "H", tiff[off : off + 2])[0]
        out = {}
        for i in range(n):
            base = off + 2 + 12 * i
            tag, typ, count = struct.unpack(e + "HHI", tiff[base : base + 8])
            out[tag] = (typ, count, tiff[base + 8 : base + 12])
        return out

    def value_of(typ: int, raw: bytes) -> int:
        if typ == 3:  # SHORT occupies the first 2 bytes of the slot
            return struct.unpack(e + "H", raw[:2])[0]
        return struct.unpack(e + "I", raw)[0]

    try:
        ifd0 = read_ifd(struct.unpack(e + "I", tiff[4:8])[0])
        if 0x0112 not in ifd0 or 0x8769 not in ifd0:
            return None
        orientation = value_of(*ifd0[0x0112][0::2])
        sub = read_ifd(value_of(*ifd0[0x8769][0::2]))
        if 0xA002 not in sub or 0xA003 not in sub:
            return None
        return (
            endian,
            orientation,
            value_of(*sub[0xA002][0::2]),
            value_of(*sub[0xA003][0::2]),
        )
    except struct.error:
        # truncated IFD table / value slot — malformed, not fatal
        return None


# ---------------------------------------------------------------------------
# PNG build + FULL decode (zlib IDAT inflate + all five scanline
# filters) — public spec: RFC 2083 / W3C PNG (ISO/IEC 15948). This is
# a real decode path, not a header peek: stdlib zlib only, no image
# libraries.
# ---------------------------------------------------------------------------


def _png_chunk(typ: bytes, body: bytes) -> bytes:
    import zlib

    return (
        len(body).to_bytes(4, "big")
        + typ
        + body
        + (zlib.crc32(typ + body) & 0xFFFFFFFF).to_bytes(4, "big")
    )


def build_png(width: int, height: int, seed: int) -> bytes:
    """Real 8-bit grayscale PNG: signature, IHDR, one zlib IDAT, IEND,
    every chunk CRC32'd. Pixel (x, y) = (7x + 13y + seed) mod 256; the
    scanline filter cycles through ALL FIVE spec types (None/Sub/Up/
    Average/Paeth, y mod 5), so a decoder that shortcuts any filter's
    reconstruction breaks the round-trip."""
    import zlib

    rows = [
        bytes((7 * x + 13 * y + seed) % 256 for x in range(width))
        for y in range(height)
    ]
    out = bytearray()
    prior = bytes(width)
    for y, row in enumerate(rows):
        ft = y % 5
        out.append(ft)
        for x in range(width):
            left = row[x - 1] if x > 0 else 0
            up = prior[x]
            ul = prior[x - 1] if x > 0 else 0
            out.append((row[x] - _predict(ft, left, up, ul)) % 256)
        prior = row
    ihdr = (
        width.to_bytes(4, "big")
        + height.to_bytes(4, "big")
        + bytes([8, 0, 0, 0, 0])  # bit depth 8, grayscale, deflate, adaptive, no interlace
    )
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(out)))
        + _png_chunk(b"IEND", b"")
    )


def _predict(ft: int, left: int, up: int, ul: int) -> int:
    """The spec's per-filter predictor — ONE implementation shared by
    the encoder (build_png subtracts it) and the decoder
    (decode_png_gray adds it back), so the filter math cannot drift
    between the two sides of the round-trip."""
    if ft == 0:
        return 0
    if ft == 1:
        return left
    if ft == 2:
        return up
    if ft == 3:
        return (left + up) // 2
    return _paeth(left, up, ul)


def _paeth(left: int, up: int, ul: int) -> int:
    p = left + up - ul
    pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
    if pa <= pb and pa <= pc:
        return left
    if pb <= pc:
        return up
    return ul


def decode_png_gray(payload: bytes) -> tuple[int, int, bytes] | None:
    """Full PNG decode for 8-bit grayscale: chunk walk (IDAT may be
    split across chunks), zlib inflate, then per-scanline
    reconstruction of all five filter types (bpp=1). Returns
    (width, height, recovered pixel bytes, row-major) or None when the
    payload is not a decodable grayscale-8 PNG."""
    import zlib

    if len(payload) < 45 or payload[:8] != _PNG_SIG:
        return None
    width = height = None
    idat = bytearray()
    i = 8
    n = len(payload)
    while i + 12 <= n:
        length = int.from_bytes(payload[i : i + 4], "big")
        typ = payload[i + 4 : i + 8]
        body = payload[i + 8 : i + 8 + length]
        if typ == b"IHDR":
            if len(body) < 13:
                return None  # malformed IHDR (spec: exactly 13 bytes)
            width = int.from_bytes(body[0:4], "big")
            height = int.from_bytes(body[4:8], "big")
            # bit depth 8, grayscale, deflate, adaptive filtering,
            # non-interlaced — anything else is out of scope → None
            if bytes(body[8:13]) != b"\x08\x00\x00\x00\x00":
                return None
        elif typ == b"IDAT":
            idat += body
        elif typ == b"IEND":
            break
        i += 12 + length
    if width is None or not idat:
        return None
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error:
        return None
    if len(raw) != (width + 1) * height:
        return None
    pixels = bytearray()
    prior = bytes(width)
    for y in range(height):
        ft = raw[y * (width + 1)]
        line = raw[y * (width + 1) + 1 : (y + 1) * (width + 1)]
        if ft > 4:
            return None
        recon = bytearray()
        for x in range(width):
            left = recon[x - 1] if x > 0 else 0
            up = prior[x]
            ul = prior[x - 1] if x > 0 else 0
            recon.append((line[x] + _predict(ft, left, up, ul)) % 256)
        pixels += recon
        prior = bytes(recon)
    return width, height, bytes(pixels)


def ahash64(width: int, height: int, pix: bytes) -> str:
    """64-bit average perceptual hash (aHash — the classic image
    near-dup fingerprint) over an 8-bit grayscale buffer, specified
    integer-exactly so a SQL oracle can replay it:

    - pixel (x, y) belongs to block (bx, by) with bx = (8x+7)//width,
      by = (8y+7)//height — a monotone 8-way partition that needs no
      resampling kernel;
    - bit(by, bx) = 1 iff the block mean strictly exceeds the global
      mean, compared cross-multiplied in integers
      (block_sum · n_total > total_sum · n_block) so no division or
      float ever happens;
    - bits packed row-major, MSB first; returned as 16 lowercase hex
      chars."""
    bsum = [[0] * 8 for _ in range(8)]
    bn = [[0] * 8 for _ in range(8)]
    for y in range(height):
        by = (8 * y + 7) // height
        row = y * width
        for x in range(width):
            bx = (8 * x + 7) // width
            bsum[by][bx] += pix[row + x]
            bn[by][bx] += 1
    total = sum(map(sum, bsum))
    n = width * height
    bits = 0
    for by in range(8):
        for bx in range(8):
            if bsum[by][bx] * n > total * bn[by][bx]:
                bits |= 1 << (63 - (by * 8 + bx))
    return f"{bits:016x}"
