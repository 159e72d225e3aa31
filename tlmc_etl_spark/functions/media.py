"""Deterministic media-format parsers: cue sheets and FLAC STREAMINFO.

Replaces the reference's cross-language cue path (python→.NET pythonnet →
CueSharp.cs 1340 LoC, cue_designator.py:17-66) with a plain-Python parser —
the cue format is line-oriented text — exposed UDTF-style: one cue document
in, one row per TRACK out, ready for `explode` (SURVEY.md §7.3).

Also the FLAC header fast-path (backfill_file_metadata.py:40-57): duration
from the first 42 bytes (STREAMINFO) without a full decode — hand-done
"column pruning" on a binary format.
"""

from __future__ import annotations

import re
import struct
import zlib

from pyspark.sql import functions as F
from pyspark.sql import types as T

def _valueerror_boundary(fn):
    """Binary parsers promise "[]/None or ValueError" — a truncated
    buffer must not leak IndexError/struct.error from the byte readers
    (the same wrapper contract operators/jpeg.py:parse_jpeg_luma pins)."""
    import functools

    @functools.wraps(fn)
    def wrapped(*a, **kw):
        try:
            return fn(*a, **kw)
        except (IndexError, struct.error) as e:
            raise ValueError(
                f"{fn.__name__}: truncated or corrupt input: {e}"
            ) from e

    return wrapped


_FILE_RE = re.compile(r'^\s*FILE\s+"(?P<path>[^"]*)"\s+(?P<ftype>\S+)', re.I)
_TRACK_RE = re.compile(r"^\s*TRACK\s+(?P<num>\d+)\s+(?P<mode>\S+)", re.I)
_INDEX_RE = re.compile(
    r"^\s*INDEX\s+(?P<num>\d+)\s+(?P<mm>\d+):(?P<ss>\d+):(?P<ff>\d+)", re.I
)
_META_RE = re.compile(r'^\s*(?P<key>TITLE|PERFORMER)\s+"(?P<val>[^"]*)"', re.I)


def parse_cue(text: str | None) -> list[dict]:
    """Parse a cue sheet into track rows.

    Output rows: (file_path, track_number, track_mode, title, performer,
    index01_frames, start_seconds). INDEX 01 is the track start; cue frames
    run at 75/s. Sheet-level TITLE/PERFORMER (before any TRACK) are inherited
    by tracks that don't override them — CueSharp's semantics
    (CueSplit.cs:203-262) without the DLL.
    """
    if not text:
        return []
    tracks: list[dict] = []
    cur_file: str | None = None
    cur: dict | None = None
    sheet_meta = {"TITLE": None, "PERFORMER": None}
    for line in text.splitlines():
        m = _FILE_RE.match(line)
        if m:
            cur_file = m.group("path")
            continue
        m = _TRACK_RE.match(line)
        if m:
            cur = {
                "file_path": cur_file,
                "track_number": int(m.group("num")),
                "track_mode": m.group("mode").upper(),
                "title": sheet_meta["TITLE"],
                "performer": sheet_meta["PERFORMER"],
                "index01_frames": None,
                "start_seconds": None,
            }
            tracks.append(cur)
            continue
        m = _META_RE.match(line)
        if m:
            target = cur if cur is not None else sheet_meta
            target[m.group("key").upper() if cur is None else m.group("key").lower()] = m.group(
                "val"
            )
            continue
        m = _INDEX_RE.match(line)
        if m and cur is not None and int(m.group("num")) == 1:
            frames = (int(m.group("mm")) * 60 + int(m.group("ss"))) * 75 + int(m.group("ff"))
            cur["index01_frames"] = frames
            cur["start_seconds"] = round(frames / 75.0, 6)
    return tracks


CUE_TRACK_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("file_path", T.StringType()),
            T.StructField("track_number", T.IntegerType()),
            T.StructField("track_mode", T.StringType()),
            T.StructField("title", T.StringType()),
            T.StructField("performer", T.StringType()),
            T.StructField("index01_frames", T.IntegerType()),
            T.StructField("start_seconds", T.DoubleType()),
        ]
    )
)


def cue_tracks_udf():
    """UDF: cue text column → array<struct> of track rows (explode after)."""
    return F.udf(parse_cue, CUE_TRACK_SCHEMA)


def streaminfo_duration(header: bytes | None) -> float | None:
    """Duration in seconds from a FLAC file's first 42 bytes.

    Layout: 'fLaC' magic (4) + metadata block header (4) + STREAMINFO (34);
    sample rate = 20 bits at offset 10 of STREAMINFO, total samples = 36 bits
    at offset 13.5 (backfill_file_metadata.py:40-57). Returns None on
    non-FLAC input — caller falls back to the full probe, exactly the
    reference's mutagen fallback.
    """
    if header is None or len(header) < 42 or header[:4] != b"fLaC":
        return None
    si = header[8:42]  # STREAMINFO payload
    (block,) = struct.unpack(">Q", si[10:18])
    sample_rate = block >> 44
    total_samples = block & ((1 << 36) - 1)
    if sample_rate == 0:
        return None
    return round(total_samples / sample_rate, 6)


def _streaminfo_body(sample_rate: int, total_samples: int) -> bytes:
    """The 34-byte STREAMINFO payload both FLAC test builders share
    (stereo: channels-1=1 @bit41; 16-bit: bps-1=15 @bit36)."""
    block = (sample_rate << 44) | (1 << 41) | (15 << 36) | total_samples
    return bytes(10) + struct.pack(">Q", block) + bytes(16)


def make_flac_header(sample_rate: int, total_samples: int) -> bytes:
    """Build a minimal valid 42-byte FLAC prefix (deterministic test double
    for real files — this container ships no audio fixtures)."""
    return b"fLaC" + bytes([0x80, 0, 0, 34]) + _streaminfo_body(
        sample_rate, total_samples
    )


# ---------------------------------------------------------------------------
# ADTS (AAC transport) framing. The HLS pipeline's real MERT input is AAC
# segments (V6-MIGRATION-HANDOFF.md issue G5; hls_assignment.py encodes
# libfdk_aac) — chunking audio for inference needs the frame index: which
# byte ranges hold which sample ranges, WITHOUT decoding. Same
# "column pruning on a binary format" idea as the FLAC fast-path above.
# ---------------------------------------------------------------------------

# MPEG-4 sampling_frequency_index table (ISO/IEC 14496-3).
ADTS_SAMPLE_RATES = (
    96000, 88200, 64000, 48000, 44100, 32000, 24000, 22050,
    16000, 12000, 11025, 8000, 7350, None, None, None,
)
ADTS_SAMPLES_PER_FRAME = 1024  # AAC-LC, per raw data block


@_valueerror_boundary
def parse_adts_frames(data: bytes | None) -> list[dict]:
    """Walk an ADTS elementary stream and return one dict per frame:
    {idx, byte_offset, byte_length, sample_rate, channels, n_blocks,
    n_samples} — the seekable frame index a distributed chunk reader
    needs to turn (sample range) into (byte range).

    Strict: returns [] for None/empty/non-ADTS input; raises ValueError
    on a corrupt mid-stream header (lost sync, layer != 0, bad sampling
    index, or a frame that overruns the buffer) — a torn stream must
    fail loudly, not yield a silently short index.
    """
    if not data:
        return []
    if len(data) < 7 or data[0] != 0xFF or (data[1] & 0xF0) != 0xF0:
        return []
    frames: list[dict] = []
    pos, idx = 0, 0
    n = len(data)
    while pos < n:
        if pos + 7 > n:
            raise ValueError(f"adts: truncated header at byte {pos}")
        b = data[pos : pos + 7]
        if b[0] != 0xFF or (b[1] & 0xF0) != 0xF0:
            raise ValueError(f"adts: lost sync at byte {pos}")
        layer = (b[1] >> 1) & 0x3
        if layer != 0:
            raise ValueError(f"adts: nonzero layer at byte {pos}")
        sf_index = (b[2] >> 2) & 0xF
        sr = ADTS_SAMPLE_RATES[sf_index]
        if sr is None:
            raise ValueError(f"adts: reserved sampling index {sf_index} at {pos}")
        channels = ((b[2] & 0x1) << 2) | (b[3] >> 6)
        frame_len = ((b[3] & 0x3) << 11) | (b[4] << 3) | (b[5] >> 5)
        n_blocks = (b[6] & 0x3) + 1
        if frame_len < 7 or pos + frame_len > n:
            raise ValueError(
                f"adts: frame at {pos} claims {frame_len} bytes, "
                f"{n - pos} remain"
            )
        frames.append(
            {
                "idx": idx,
                "byte_offset": pos,
                "byte_length": frame_len,
                "sample_rate": sr,
                "channels": channels,
                "n_blocks": n_blocks,
                "n_samples": n_blocks * ADTS_SAMPLES_PER_FRAME,
            }
        )
        pos += frame_len
        idx += 1
    return frames


def make_adts_frame(
    payload_len: int, sf_index: int = 6, channels: int = 2, profile: int = 1
) -> bytes:
    """One valid ADTS frame (MPEG-4, AAC-LC profile=1, no CRC) with a
    deterministic filler payload — test double, same role as
    make_flac_header."""
    frame_len = 7 + payload_len
    if not 7 <= frame_len < (1 << 13):
        raise ValueError(f"frame length {frame_len} out of 13-bit range")
    hdr = bytes(
        [
            0xFF,
            0xF1,  # MPEG-4, layer 0, protection_absent=1
            (profile << 6) | (sf_index << 2) | ((channels >> 2) & 0x1),
            ((channels & 0x3) << 6) | ((frame_len >> 11) & 0x3),
            (frame_len >> 3) & 0xFF,
            ((frame_len & 0x7) << 5) | 0x1F,  # buffer fullness hi (VBR 0x7FF)
            (0x3F << 2) | 0x0,  # fullness lo + (raw blocks - 1) = 0
        ]
    )
    return hdr + bytes((i * 37) & 0xFF for i in range(payload_len))


def make_adts_stream(payload_lens: list[int], sf_index: int = 6) -> bytes:
    """Concatenate frames into a valid elementary stream."""
    return b"".join(make_adts_frame(p, sf_index=sf_index) for p in payload_lens)


# ---------------------------------------------------------------------------
# Golden-PCM silent frames (spec-built, decodable): the ffmpeg decode lane
# (_decode_audio_ffmpeg) is smoke-checked everywhere but VALUE-checked only
# where a golden encoded↔PCM pair exists. Full entropy ENCODE is out of
# scope in-container, but both MP3 and AAC-LC admit a degenerate frame
# whose decode is exactly silence and whose construction needs only the
# public bitstream grammar, no Huffman/codebook tables:
#  - Layer III: side info all zeros ⇒ part2_3_length = 0 for every
#    granule ⇒ no spectral bits are read ⇒ the synthesis filterbank sees
#    zeros (ISO 11172-3 side-info layout; every field's zero value is
#    legal: block_type 0, table_select 0, region counts 0).
#  - AAC-LC: a single_channel_element with max_sfb = 0 ⇒ section and
#    scale-factor loops run zero iterations, three zero flags, TERM ⇒
#    the raw_data_block is exactly 4 bytes (00 00 00 07) and the inverse
#    transform input is all zeros (ISO 14496-3 ics_info/section_data
#    grammar).
# Vorbis and Opus deliberately have NO golden here: a Vorbis stream needs
# full codebook headers (hand-building them is possible but unverifiable
# in-container — the round-13 sourcing analysis), and an Opus DTX/PLC
# "silent" packet's output is decoder comfort-noise, implementation- not
# spec-pinned, so a golden would pin ffmpeg's CNG, not the format.
# ---------------------------------------------------------------------------


def tone_pcm_s16(n_samples: int = 11025, sample_rate: int = 44100):
    """Deterministic NON-silent golden content: 0.5·sin(2π·440t) +
    0.25·sin(2π·1337t + 0.5), 500-sample linear fade at both ends,
    rounded to int16. Formula-exact (numpy float64 → round-half-even →
    int16), so the committed PCM fixture regenerates bit-for-bit and
    the golden value check is non-degenerate: an all-zeros decode bug —
    the failure mode the silence goldens cannot catch — fails against
    this content. Returns (n_samples,) int16."""
    import numpy as np

    t = np.arange(n_samples, dtype=np.float64) / sample_rate
    x = 0.5 * np.sin(2 * np.pi * 440.0 * t) + 0.25 * np.sin(
        2 * np.pi * 1337.0 * t + 0.5
    )
    fade = np.ones(n_samples)
    ramp = np.arange(500) / 500.0
    fade[:500] = ramp
    fade[-500:] = ramp[::-1]
    return np.clip(np.round(x * fade * 32767.0), -32768, 32767).astype(np.int16)


def build_wav_pcm16(samples, sample_rate: int = 44100) -> bytes:
    """Minimal canonical RIFF/WAVE, integer PCM 16-bit mono — the
    golden-fixture twin of parse_wav (pipelines/mert_standin.py), built
    from the RIFF grammar directly so builder and parser stay
    independent implementations."""
    import numpy as np

    data = np.asarray(samples, dtype="<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def silent_mp3_frames(n_frames: int, channels: int = 1) -> bytes:
    """`n_frames` decodable MPEG-1 Layer III frames of exact digital
    silence (44.1 kHz, 32 kbit/s): header + all-zero side info + zero
    main data. Golden PCM = n_frames * 1152 zero samples."""
    if n_frames < 1:
        raise ValueError("n_frames must be >= 1")
    mode = 0x3 if channels == 1 else 0x0
    hdr = bytes([0xFF, 0xFB, 0x10, (mode << 6)])
    frame_len = (144 * 32000) // 44100  # 104 bytes, no padding
    frame = hdr + bytes(frame_len - 4)
    return frame * n_frames


def silent_aac_adts_frames(n_frames: int, sf_index: int = 4) -> bytes:
    """`n_frames` decodable AAC-LC ADTS frames of exact digital silence
    (mono, sampling index 4 = 44.1 kHz): each raw_data_block is the
    4-byte max_sfb=0 SCE (b'\\x00\\x00\\x00\\x07'). Golden PCM =
    n_frames * 1024 zero samples."""
    if n_frames < 1:
        raise ValueError("n_frames must be >= 1")
    payload = b"\x00\x00\x00\x07"  # SCE(tag 0, gain 0, max_sfb 0) + TERM
    frame_len = 7 + len(payload)
    hdr = bytes(
        [
            0xFF,
            0xF1,  # MPEG-4, layer 0, protection_absent=1
            (1 << 6) | (sf_index << 2) | 0,  # AAC-LC, channel cfg 1 (mono)
            (1 << 6) | ((frame_len >> 11) & 0x3),
            (frame_len >> 3) & 0xFF,
            ((frame_len & 0x7) << 5) | 0x1F,
            (0x3F << 2) | 0x0,
        ]
    )
    return (hdr + payload) * n_frames


# ---------------------------------------------------------------------------
# MPEG-1 Layer III (MP3) framing. The corpus is 10,084 mp3 files
# (Docs/v6-run-record/README.md:127); the reference's own in-process mp3
# handling is mutagen duration (= this framing math,
# backfill_file_metadata.py) — PCM decode is ffmpeg's job there and in the
# engine's real-tool lane. Full in-container Layer III entropy decode is
# deliberately NOT attempted: it requires the spec's 34 Huffman tables and
# the 512-tap synthesis window verbatim, and constants that can't be
# sourced in this environment must not be approximated (a wrong table
# decodes confidently and wrongly — the exact failure mode the
# must-error-never-fake contract exists to prevent).
#
# What IS here: the full frame geometry (seekable index), ID3v2 skip, and
# the side-info main_data_begin parse — which makes the BIT-RESERVOIR
# visible: frame k's audio may live in earlier frames' main data, so a
# chunk reader that starts at frame k must back up to the reservoir start
# or the first chunk decodes garbage. mp3_chunk_plan computes that
# reservoir-aware byte range per chunk.
# ---------------------------------------------------------------------------

# MPEG-1 Layer III bitrates (kbit/s), index 1-14; 0=free, 15=bad.
MP3_BITRATES = (
    None, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320,
    None,
)
MP3_SAMPLE_RATES = (44100, 48000, 32000, None)  # MPEG-1 index 0-3
MP3_SAMPLES_PER_FRAME = 1152  # MPEG-1 Layer III


def _mp3_skip_id3v2(data: bytes) -> int:
    """Return the offset past an ID3v2 tag, 0 if none. Size is 4
    syncsafe bytes at offset 6; +10 more if the footer flag is set."""
    if len(data) < 10 or data[:3] != b"ID3":
        return 0
    size = 0
    for b in data[6:10]:
        if b & 0x80:
            return 0  # not syncsafe: treat as no tag
        size = (size << 7) | b
    return 10 + size + (10 if data[5] & 0x10 else 0)


# ID3v2 text-frame identifiers the catalog pipeline consumes — the MP3
# twin of FLAC's VORBIS_COMMENT keys (info_scanner_ph2.py:113 KEYS =
# {track, artist, title}; the reference reads them via mutagen/ffprobe).
# v2.2 uses 3-char IDs for the same frames (mutagen reads both
# transparently, so older MP3s in the corpus carry the short form).
_ID3_TEXT_KEYS = {"TIT2": "title", "TPE1": "artist", "TRCK": "track"}
_ID3V22_TEXT_KEYS = {"TT2": "title", "TP1": "artist", "TRK": "track"}
_ID3_ENCODINGS = {0: "latin-1", 1: "utf-16", 2: "utf-16-be", 3: "utf-8"}


def make_id3v2(
    frames: dict[str, str],
    version: int = 3,
    encoding: int | None = None,
    unsync: bool = False,
    padding: int = 0,
) -> bytes:
    """ID3v2.2/2.3/2.4 tag bytes (test double): text frames, syncsafe tag
    size, optional whole-tag unsynchronisation and trailing padding.
    Frame IDs must be 3 chars for version 2 (TT2/TP1/TRK), 4 otherwise.

    encoding=None picks a version-conformant text encoding per frame:
    UTF-8 (3) for v2.4; latin-1 (0) when the text allows it and UTF-16
    with BOM (1) otherwise for v2.2/2.3 — UTF-8 is a v2.4-only encoding,
    so a conformant v2.3 writer must not emit it. An explicit encoding
    is honored as given (tests use it to plant nonconformant frames)."""
    if version not in (2, 3, 4):
        raise ValueError("only ID3v2.2/2.3/2.4")
    id_len = 3 if version == 2 else 4
    body = bytearray()
    for fid, text in frames.items():
        if len(fid) != id_len:
            raise ValueError(
                f"id3: v2.{version} frame id must be {id_len} chars"
            )
        enc_byte = encoding
        if enc_byte is None:
            if version == 4:
                enc_byte = 3
            else:
                try:
                    text.encode("latin-1")
                    enc_byte = 0
                except UnicodeEncodeError:
                    enc_byte = 1
        payload = bytes([enc_byte]) + text.encode(_ID3_ENCODINGS[enc_byte])
        size = len(payload)
        if version == 2:  # 3-byte size, no frame flags
            body += fid.encode("ascii") + size.to_bytes(3, "big") + payload
            continue
        if version == 4:  # syncsafe frame size
            sz = bytes(
                [(size >> 21) & 0x7F, (size >> 14) & 0x7F,
                 (size >> 7) & 0x7F, size & 0x7F]
            )
        else:
            sz = size.to_bytes(4, "big")
        body += fid.encode("ascii") + sz + bytes(2) + payload
    body += bytes(padding)
    if unsync:
        body = bytearray(body.replace(b"\xff", b"\xff\x00"))
    flags = 0x80 if unsync else 0x00
    total = len(body)
    hdr = b"ID3" + bytes([version, 0, flags]) + bytes(
        [(total >> 21) & 0x7F, (total >> 14) & 0x7F,
         (total >> 7) & 0x7F, total & 0x7F]
    )
    return hdr + bytes(body)


@_valueerror_boundary
def parse_id3v2(data: bytes | None) -> dict | None:
    """ID3v2.2/2.3/2.4 header walk → {version, title, artist, track,
    tags}.

    The in-container equivalent of the reference's mutagen/ffprobe tag
    fetch for MP3 (Shared/utils.py:80-113 feeding info_scanner_ph2's
    lowercase-key coalesce — mutagen reads all three tag versions
    transparently, so older corpus MP3s carry v2.2's 3-char frames).
    Scope: text frames (Tnn/Tnnn) in latin-1/UTF-8/UTF-16(+BOM)/
    UTF-16BE, whole-tag unsynchronisation, padding stop; compressed/
    encrypted frames are skipped by flag (v2.2's whole-tag compression
    bit skips the body — no scheme was ever defined for it). None for
    non-ID3 input; ValueError on a torn frame walk."""
    if not data or len(data) < 10 or data[:3] != b"ID3":
        return None
    version = data[3]
    if version not in (2, 3, 4):
        raise ValueError(f"id3: unsupported version 2.{version}")
    flags = data[5]
    size = 0
    for b in data[6:10]:
        if b & 0x80:
            raise ValueError("id3: tag size is not syncsafe")
        size = (size << 7) | b
    body = data[10 : 10 + size]
    if len(body) < size:
        raise ValueError("id3: tag overruns the buffer")
    if flags & 0x80:  # whole-tag unsynchronisation (v2.2/2.3 scheme)
        body = body.replace(b"\xff\x00", b"\xff")
    pos = 0
    key_map = _ID3_TEXT_KEYS
    out = {"version": version, "tags": {}}
    if version == 2:
        key_map = _ID3V22_TEXT_KEYS
        if flags & 0x40:  # v2.2 whole-tag compression: honest skip
            body = b""
        while pos + 6 <= len(body):
            fid = body[pos : pos + 3]
            if fid == b"\x00\x00\x00":
                break  # padding
            if not all(65 <= c <= 90 or 48 <= c <= 57 for c in fid):
                raise ValueError(f"id3: malformed frame id at {pos}")
            fsize = int.from_bytes(body[pos + 3 : pos + 6], "big")
            payload = body[pos + 6 : pos + 6 + fsize]
            if len(payload) < fsize:
                raise ValueError(f"id3: frame at {pos} overruns the tag")
            pos += 6 + fsize
            if fid[0:1] == b"T" and fsize >= 1:
                out["tags"][fid.decode("ascii")] = _id3_text(payload)
        for fid, key in key_map.items():
            out[key] = out["tags"].get(fid)
        return out
    if flags & 0x40:  # extended header: skip by its own size field
        if pos + 4 > len(body):
            raise ValueError("id3: truncated extended header")
        ext = int.from_bytes(body[0:4], "big")
        if version == 4:  # syncsafe, self-inclusive
            ext = ((ext >> 24) & 0x7F) << 21 | ((ext >> 16) & 0x7F) << 14 \
                | ((ext >> 8) & 0x7F) << 7 | (ext & 0x7F)
            pos = ext
        else:  # v2.3: size EXCLUDES the 4 size bytes
            pos = 4 + ext
    while pos + 10 <= len(body):
        fid = body[pos : pos + 4]
        if fid == b"\x00\x00\x00\x00":
            break  # padding
        if not all(65 <= c <= 90 or 48 <= c <= 57 for c in fid):
            raise ValueError(f"id3: malformed frame id at {pos}")
        raw = int.from_bytes(body[pos + 4 : pos + 8], "big")
        if version == 4:
            fsize = ((raw >> 24) & 0x7F) << 21 | ((raw >> 16) & 0x7F) << 14 \
                | ((raw >> 8) & 0x7F) << 7 | (raw & 0x7F)
        else:
            fsize = raw
        fflags = body[pos + 8 : pos + 10]
        payload = body[pos + 10 : pos + 10 + fsize]
        if len(payload) < fsize:
            raise ValueError(f"id3: frame at {pos} overruns the tag")
        pos += 10 + fsize
        # v2.3 format flags: compression 0x80, encryption 0x40;
        # v2.4: compression 0x08, encryption 0x04, per-frame unsync 0x02
        skip_mask = 0xC0 if version == 3 else 0x0E
        if fflags[1] & skip_mask:
            continue  # compressed/encrypted/unsynced: honest skip
        if fid[0:1] == b"T" and fsize >= 1:
            out["tags"][fid.decode("ascii")] = _id3_text(payload)
    for fid, key in key_map.items():
        out[key] = out["tags"].get(fid)
    return out


def _id3_text(payload: bytes) -> str:
    """Decode an ID3v2 text-frame payload (encoding byte + text)."""
    enc = _ID3_ENCODINGS.get(payload[0])
    if enc is None:
        raise ValueError(f"id3: bad text encoding {payload[0]}")
    try:
        return payload[1:].decode(enc).rstrip("\x00")
    except UnicodeDecodeError as e:
        raise ValueError(f"id3: undecodable text frame: {e}") from e


@_valueerror_boundary
def parse_mp3_frames(data: bytes | None) -> list[dict]:
    """Walk an MPEG-1 Layer III stream into a frame index: one dict per
    frame with {idx, byte_offset, byte_length, bitrate_kbps, sample_rate,
    n_samples, main_data_begin, main_data_bytes, channels}.

    main_data_begin (the first 9 bits of side info) points INTO THE BIT
    RESERVOIR: this frame's audio begins that many bytes BEFORE this
    frame's own main data, inside previous frames — the field that makes
    mid-file seeking non-trivial and that mp3_chunk_plan consumes.

    Same strictness contract as parse_adts_frames: [] for non-MP3 input,
    ValueError for a stream that goes bad mid-walk. An ID3v2 prefix is
    skipped; trailing metadata — an ID3v1 tag ('TAG', 128 bytes), an
    APEv1/v2 tag (footer-addressed), or both in file order — is stripped
    from the walk range, the tolerance every real-world tail carries."""
    if not data:
        return []
    pos = _mp3_skip_id3v2(data)
    n = _mp3_strip_trailers(data)
    if pos + 4 > n or data[pos] != 0xFF or (data[pos + 1] & 0xE0) != 0xE0:
        return []
    frames: list[dict] = []
    idx = 0
    while pos < n:
        if pos + 4 > n:
            raise ValueError(f"mp3: truncated header at byte {pos}")
        b = data[pos : pos + 4]
        if b[0] != 0xFF or (b[1] & 0xE0) != 0xE0:
            raise ValueError(f"mp3: lost sync at byte {pos}")
        version = (b[1] >> 3) & 0x3
        layer = (b[1] >> 1) & 0x3
        if version != 0x3 or layer != 0x1:
            raise ValueError(
                f"mp3: only MPEG-1 Layer III supported "
                f"(version bits {version}, layer bits {layer} at {pos})"
            )
        protection = b[1] & 0x1  # 0 = CRC present
        br_idx = (b[2] >> 4) & 0xF
        sr_idx = (b[2] >> 2) & 0x3
        padding = (b[2] >> 1) & 0x1
        mode = (b[3] >> 6) & 0x3
        bitrate = MP3_BITRATES[br_idx]
        sr = MP3_SAMPLE_RATES[sr_idx]
        if bitrate is None or sr is None:
            raise ValueError(f"mp3: bad bitrate/samplerate index at {pos}")
        frame_len = (144 * bitrate * 1000) // sr + padding
        if pos + frame_len > n:
            raise ValueError(
                f"mp3: frame at {pos} claims {frame_len} bytes, "
                f"{n - pos} remain"
            )
        channels = 1 if mode == 0x3 else 2
        side_len = 17 if channels == 1 else 32
        crc_len = 0 if protection else 2
        si_off = pos + 4 + crc_len
        # main_data_begin = first 9 bits of side info
        mdb = (data[si_off] << 1) | (data[si_off + 1] >> 7)
        frames.append(
            {
                "idx": idx,
                "byte_offset": pos,
                "byte_length": frame_len,
                "bitrate_kbps": bitrate,
                "sample_rate": sr,
                "n_samples": MP3_SAMPLES_PER_FRAME,
                "main_data_begin": mdb,
                "main_data_bytes": frame_len - 4 - crc_len - side_len,
                "channels": channels,
            }
        )
        pos += frame_len
        idx += 1
    return frames


def make_mp3_frame(
    bitrate_idx: int,
    sr_idx: int = 0,
    padding: int = 0,
    main_data_begin: int = 0,
    mono: bool = False,
) -> bytes:
    """One geometrically valid MPEG-1 Layer III frame (no CRC) whose side
    info carries `main_data_begin`; main data is deterministic filler.
    Test double — the geometry (header fields, frame length formula,
    side-info layout) is real, the entropy payload is not."""
    if not 0 <= main_data_begin < 512:
        raise ValueError("main_data_begin is a 9-bit field")
    bitrate = MP3_BITRATES[bitrate_idx]
    sr = MP3_SAMPLE_RATES[sr_idx]
    if bitrate is None or sr is None:
        raise ValueError("bad bitrate/samplerate index")
    frame_len = (144 * bitrate * 1000) // sr + padding
    mode = 0x3 if mono else 0x0
    hdr = bytes(
        [
            0xFF,
            0xFB,  # MPEG-1, Layer III, no CRC
            (bitrate_idx << 4) | (sr_idx << 2) | (padding << 1),
            mode << 6,
        ]
    )
    side_len = 17 if mono else 32
    side = bytearray(side_len)
    side[0] = main_data_begin >> 1
    side[1] = (main_data_begin & 0x1) << 7
    body_len = frame_len - 4 - side_len
    body = bytes((i * 41) & 0xFF for i in range(body_len))
    return hdr + bytes(side) + body


def make_mp3_stream(
    specs: list[tuple[int, int, int]], sr_idx: int = 0, id3v2_bytes: int = 0
) -> bytes:
    """Frames from (bitrate_idx, padding, main_data_begin) triples,
    optionally behind a synthetic ID3v2 tag of the given payload size."""
    out = bytearray()
    if id3v2_bytes:
        size = id3v2_bytes
        out += b"ID3\x04\x00\x00" + bytes(
            [(size >> 21) & 0x7F, (size >> 14) & 0x7F,
             (size >> 7) & 0x7F, size & 0x7F]
        )
        out += bytes(id3v2_bytes)
    for br, pad, mdb in specs:
        out += make_mp3_frame(br, sr_idx, pad, mdb)
    return bytes(out)


def _mp3_strip_trailers(data: bytes) -> int:
    """Effective end-of-audio offset: a trailing ID3v1 tag (128 bytes,
    'TAG' magic) and/or an APEv1/v2 tag are excluded from the frame
    walk. The APE tag is FOOTER-addressed (32-byte 'APETAGEX' footer at
    the tail; its size field covers items+footer, and flag bit 31 says a
    matching 32-byte header precedes the items) — a forward byte-walk
    cannot detect a headerless APE tag, which is why real readers strip
    from the end. File order [audio][APE][ID3v1] means ID3v1 peels
    first."""
    end = len(data)
    if end >= 128 and data[end - 128 : end - 125] == b"TAG":
        end -= 128
    if end >= 32 and data[end - 32 : end - 24] == b"APETAGEX":
        size = int.from_bytes(data[end - 20 : end - 16], "little")
        flags = int.from_bytes(data[end - 12 : end - 8], "little")
        span = size + (32 if flags & (1 << 31) else 0)
        if size < 32 or span > end:
            raise ValueError("mp3: APE tag size field overruns the file")
        end -= span
    return end


@_valueerror_boundary
def mp3_reservoir_start(frames: list[dict], k: int) -> int:
    """Index of the frame where frame k's audio ACTUALLY begins: walk back
    until the preceding frames' main data covers main_data_begin — the
    seek rule every gapless/chunked MP3 reader implements. Floor 0 (a
    stream head can't satisfy the reservoir; decoders mute those
    granules)."""
    need = frames[k]["main_data_begin"]
    j = k
    have = 0
    while need > 0 and j > 0 and have < need:
        j -= 1
        have += frames[j]["main_data_bytes"]
    return j


# ---------------------------------------------------------------------------
# H.264 Annex-B NAL framing. Video chunking's seek rule is keyframe
# alignment: a chunk must start at an IDR access unit and carry the
# active SPS/PPS, or the decoder has no reference frames / no parameter
# sets and the head of the chunk is garbage — the video analogue of
# MP3's bit-reservoir walk-back. Entropy decode (CABAC/CAVLC) stays at
# the declared codec boundary; the framing layer below is structural and
# fully verifiable.
# ---------------------------------------------------------------------------

H264_NAL_TYPES = {
    1: "slice", 5: "idr", 6: "sei", 7: "sps", 8: "pps", 9: "aud",
}


@_valueerror_boundary
def parse_annexb_nals(data: bytes | None) -> list[dict]:
    """Walk an Annex-B elementary stream into a NAL index: one dict per
    NAL unit with {idx, byte_offset (of the start code), start_code_len,
    byte_length (start code + payload), nal_type, nal_ref_idc,
    is_keyframe (IDR slice)}.

    Start codes are 0x000001 or 0x00000001; emulation-prevention bytes
    guarantee no start code occurs inside a payload, so a plain scan is
    exact. Returns [] for input that doesn't begin with a start code;
    raises ValueError on a forbidden_zero_bit violation (a corrupt
    header must not index silently)."""
    if not data or len(data) < 4:
        return []
    def sc_len(p: int) -> int:
        if data[p : p + 3] == b"\x00\x00\x01":
            return 3
        if data[p : p + 4] == b"\x00\x00\x00\x01":
            return 4
        return 0
    first = sc_len(0)
    if first == 0:
        return []
    nals: list[dict] = []
    n = len(data)
    pos, idx = 0, 0
    while pos < n:
        sl = sc_len(pos)
        if sl == 0:
            raise ValueError(f"annexb: expected start code at byte {pos}")
        hdr = data[pos + sl]
        if hdr & 0x80:
            raise ValueError(
                f"annexb: forbidden_zero_bit set at byte {pos + sl}"
            )
        nal_type = hdr & 0x1F
        # scan to the next start code (or EOF)
        nxt = data.find(b"\x00\x00\x01", pos + sl)
        if nxt == -1:
            end = n
        else:
            # a 4-byte code is a zero byte + a 3-byte code: back up over
            # the leading zero so it stays with the NEXT unit
            end = nxt - 1 if nxt > 0 and data[nxt - 1] == 0 else nxt
        nals.append(
            {
                "idx": idx,
                "byte_offset": pos,
                "start_code_len": sl,
                "byte_length": end - pos,
                "nal_type": nal_type,
                "nal_ref_idc": (hdr >> 5) & 0x3,
                "is_keyframe": nal_type == 5,
            }
        )
        pos = end
        idx += 1
    return nals


def make_nal(nal_type: int, payload_len: int, ref_idc: int = 3,
             long_code: bool = False) -> bytes:
    """One Annex-B NAL with deterministic filler payload. The filler is
    emulation-safe by construction (no byte is 0x00), so no start code
    can appear inside it."""
    sc = b"\x00\x00\x00\x01" if long_code else b"\x00\x00\x01"
    hdr = bytes([((ref_idc & 0x3) << 5) | (nal_type & 0x1F)])
    return sc + hdr + bytes(1 + ((i * 29) % 255) for i in range(payload_len))


@_valueerror_boundary
def h264_keyframe_start(nals: list[dict], k: int) -> int:
    """Index of the NAL where a chunk wanting to begin at NAL k must
    ACTUALLY begin: back up to the latest IDR at-or-before k, then
    further to the SPS (and its PPS) that immediately precede that IDR
    access unit — the parameter sets a mid-stream decoder needs. Floor 0
    when no IDR precedes (the whole prefix is required)."""
    j = k
    while j > 0 and nals[j]["nal_type"] != 5:
        j -= 1
    if nals[j]["nal_type"] != 5:
        return 0
    # include immediately preceding PPS/SPS/SEI/AUD run
    while j > 0 and nals[j - 1]["nal_type"] in (6, 7, 8, 9):
        j -= 1
    return j


@_valueerror_boundary
def parse_xing_header(data: bytes | None) -> dict | None:
    """Xing/Info VBR header from an MP3's FIRST frame: total frame/byte
    counts and the 100-point seek TOC, giving O(1) duration and coarse
    seek WITHOUT walking the stream — what mutagen reports for VBR files
    and what a 100 TB scan reads instead of every frame. Returns None
    when the first frame carries no tag (CBR without Info tag); the
    caller falls back to frame-walk (parse_mp3_frames) or bitrate math.

    Layout: the tag sits right after the side info of frame 0 —
    'Xing' (VBR) or 'Info' (CBR), 4 flag bytes, then optional
    frames(4)/bytes(4)/TOC(100)/quality(4) in flag order."""
    if not data:
        return None
    pos = _mp3_skip_id3v2(data)
    # parse just frame 0's header fields (cheap, no full walk)
    if pos + 40 > len(data) or data[pos] != 0xFF or (data[pos + 1] & 0xE0) != 0xE0:
        return None
    b = data[pos : pos + 4]
    protection = b[1] & 0x1
    mode = (b[3] >> 6) & 0x3
    side_len = 17 if mode == 0x3 else 32
    off = pos + 4 + (0 if protection else 2) + side_len
    tag = data[off : off + 4]
    if tag not in (b"Xing", b"Info"):
        return None
    if off + 8 > len(data):
        raise ValueError("xing: tag truncated before the flag word")
    flags = int.from_bytes(data[off + 4 : off + 8], "big")
    # every flag-indicated field must actually fit — int.from_bytes on a
    # short slice would fabricate zeros (duration 0.0 for a real file:
    # the confidently-wrong output the must-error contract forbids)
    need = 4 * bool(flags & 0x1) + 4 * bool(flags & 0x2)         + 100 * bool(flags & 0x4) + 4 * bool(flags & 0x8)
    if off + 8 + need > len(data):
        raise ValueError(
            f"xing: flags 0x{flags:x} promise {need} bytes, "
            f"{len(data) - off - 8} remain"
        )
    p = off + 8
    out: dict = {"tag": tag.decode(), "vbr": tag == b"Xing"}
    if flags & 0x1:
        out["n_frames"] = int.from_bytes(data[p : p + 4], "big")
        p += 4
    if flags & 0x2:
        out["n_bytes"] = int.from_bytes(data[p : p + 4], "big")
        p += 4
    if flags & 0x4:
        out["toc"] = list(data[p : p + 100])
        p += 100
    if flags & 0x8:
        out["quality"] = int.from_bytes(data[p : p + 4], "big")
    sr = MP3_SAMPLE_RATES[(b[2] >> 2) & 0x3]
    if "n_frames" in out and sr:
        out["duration_s"] = round(out["n_frames"] * MP3_SAMPLES_PER_FRAME / sr, 6)
    return out


def make_xing_frame(
    n_frames: int, n_bytes: int, toc: list[int] | None = None,
    vbr: bool = True, bitrate_idx: int = 5, sr_idx: int = 0,
) -> bytes:
    """Frame 0 carrying a Xing/Info tag (test double)."""
    base = bytearray(make_mp3_frame(bitrate_idx, sr_idx))
    off = 4 + 32  # stereo, no CRC
    tag = b"Xing" if vbr else b"Info"
    flags = 0x1 | 0x2 | (0x4 if toc is not None else 0)
    blob = tag + flags.to_bytes(4, "big")
    blob += n_frames.to_bytes(4, "big") + n_bytes.to_bytes(4, "big")
    if toc is not None:
        if len(toc) != 100:
            raise ValueError("TOC must have 100 entries")
        blob += bytes(toc)
    base[off : off + len(blob)] = blob
    return bytes(base)


# ---------------------------------------------------------------------------
# FLAC metadata-block walk + SEEKTABLE. The lossless corpus is FLAC (the
# collection the catalog pipeline scans), and the reference's CueSplitter
# cuts album FLACs into tracks from cue sheets (cue_designator.py via
# ffmpeg). FLAC frames don't carry their length (finding a frame boundary
# requires decoding subframes), so sample-accurate seek goes through the
# SEEKTABLE metadata block — seek points are (sample, byte offset into
# audio data, samples-in-frame) triples at block type 3. Composing the cue
# parser (time ranges) with the seek table (byte ranges) plans a cue split
# as pure byte-range reads, no decode: flac_cue_seek_plan.
# ---------------------------------------------------------------------------

FLAC_PLACEHOLDER_SAMPLE = 0xFFFF_FFFF_FFFF_FFFF


def _parse_vorbis_comment_body(body: bytes, where: str) -> tuple[str, dict]:
    """The Vorbis comment LIST layout shared verbatim by FLAC's
    VORBIS_COMMENT block (RFC 9639 §8.6), the Ogg Vorbis comment header
    (Vorbis I §5) and OpusTags (RFC 7845 §5.2): 32-bit LE vendor length
    + vendor, 32-bit LE item count, items as length-prefixed UTF-8
    "KEY=value". Returns (vendor, {lowercased key: value}); keys are
    case-insensitive and repeats keep the last occurrence, matching the
    reference's probe-tag normalization (info_scanner_ph2.py:148-151)."""
    try:
        if len(body) < 8:
            raise ValueError(f"{where}: truncated VORBIS_COMMENT")
        vlen = int.from_bytes(body[0:4], "little")
        vp = 4 + vlen
        if vp + 4 > len(body):
            raise ValueError(f"{where}: VORBIS_COMMENT vendor overruns")
        vendor = body[4:vp].decode("utf-8")
        count = int.from_bytes(body[vp : vp + 4], "little")
        vp += 4
        tags: dict[str, str] = {}
        for _ in range(count):
            if vp + 4 > len(body):
                raise ValueError(f"{where}: truncated comment list")
            ln = int.from_bytes(body[vp : vp + 4], "little")
            vp += 4
            ent = body[vp : vp + ln]
            if len(ent) < ln:
                raise ValueError(f"{where}: comment entry overruns")
            vp += ln
            key, sep, val = ent.decode("utf-8").partition("=")
            if not sep:
                raise ValueError(f"{where}: comment entry missing '='")
            tags[key.lower()] = val
        return vendor, tags
    except UnicodeDecodeError as e:
        raise ValueError(f"{where}: comment is not UTF-8: {e}") from e


@_valueerror_boundary
def parse_flac_metadata(data: bytes | None) -> dict | None:
    """Walk a FLAC file's metadata blocks: returns {sample_rate,
    total_samples, seekpoints: [(sample, byte_offset, n_samples)...],
    audio_offset (byte of the first audio frame)} or None for non-FLAC
    input. Placeholder seek points (sample == 2^64-1) are dropped.
    Raises ValueError on a malformed block walk (a truncated header must
    not yield a silently short table)."""
    if not data or len(data) < 8 or data[:4] != b"fLaC":
        return None
    out = {
        "sample_rate": None,
        "channels": None,
        "bits_per_sample": None,
        "total_samples": None,
        "min_block_size": None,
        "max_block_size": None,
        "seekpoints": [],
        "vendor": None,
        "tags": {},
        "md5": None,
    }
    pos = 4
    while True:
        if pos + 4 > len(data):
            raise ValueError(f"flac: truncated block header at {pos}")
        hdr = data[pos]
        last = bool(hdr & 0x80)
        btype = hdr & 0x7F
        blen = int.from_bytes(data[pos + 1 : pos + 4], "big")
        body_at = pos + 4
        if body_at + blen > len(data):
            raise ValueError(f"flac: block at {pos} overruns the buffer")
        if btype == 0:  # STREAMINFO
            si = data[body_at : body_at + 34]
            out["min_block_size"], out["max_block_size"] = struct.unpack(
                ">HH", si[0:4]
            )
            (block,) = struct.unpack(">Q", si[10:18])
            out["sample_rate"] = block >> 44
            out["channels"] = ((block >> 41) & 0x7) + 1
            out["bits_per_sample"] = ((block >> 36) & 0x1F) + 1
            out["total_samples"] = block & ((1 << 36) - 1)
            out["md5"] = si[18:34]  # all-zero = unset
        elif btype == 3:  # SEEKTABLE
            if blen % 18:
                raise ValueError("flac: SEEKTABLE length not a multiple of 18")
            for i in range(0, blen, 18):
                s, off, ns = struct.unpack_from(">QQH", data, body_at + i)
                if s != FLAC_PLACEHOLDER_SAMPLE:
                    out["seekpoints"].append((s, off, ns))
        elif btype == 4:  # VORBIS_COMMENT (little-endian island, RFC 9639)
            body = data[body_at : body_at + blen]
            out["vendor"], out["tags"] = _parse_vorbis_comment_body(
                body, "flac"
            )
        pos = body_at + blen
        if last:
            break
    out["audio_offset"] = pos
    return out


def make_flac_with_seektable(
    sample_rate: int,
    total_samples: int,
    seekpoints: list[tuple[int, int, int]],
    n_placeholders: int = 0,
) -> bytes:
    """Minimal valid FLAC prefix: STREAMINFO + SEEKTABLE (+ trailing
    placeholder points, as real encoders pre-allocate). Test double."""
    pts = b"".join(struct.pack(">QQH", s, o, n) for s, o, n in seekpoints)
    pts += struct.pack(">QQH", FLAC_PLACEHOLDER_SAMPLE, 0, 0) * n_placeholders
    return (
        b"fLaC"
        + bytes([0x00, 0, 0, 34])
        + _streaminfo_body(sample_rate, total_samples)
        + bytes([0x80 | 0x03]) + len(pts).to_bytes(3, "big") + pts
    )


def make_vorbis_comment_block(
    tags: dict[str, str] | list[tuple[str, str]],
    vendor: str = "tlmc-etl-spark",
    last: bool = True,
) -> bytes:
    """A type-4 VORBIS_COMMENT metadata block (test double): vendor
    string + length-prefixed UTF-8 KEY=value entries, little-endian
    lengths inside the otherwise big-endian FLAC container. Accepts a
    list of pairs to plant repeated keys."""
    pairs = tags.items() if isinstance(tags, dict) else tags
    v = vendor.encode("utf-8")
    body = len(v).to_bytes(4, "little") + v
    ents = [f"{k}={val}".encode("utf-8") for k, val in pairs]
    body += len(ents).to_bytes(4, "little")
    for e in ents:
        body += len(e).to_bytes(4, "little") + e
    hdr = bytes([(0x80 if last else 0x00) | 0x04])
    return hdr + len(body).to_bytes(3, "big") + body


def make_flac_with_tags(
    sample_rate: int,
    total_samples: int,
    tags: dict[str, str] | list[tuple[str, str]],
    vendor: str = "tlmc-etl-spark",
) -> bytes:
    """Minimal valid FLAC prefix: STREAMINFO + VORBIS_COMMENT — the
    metadata shape real tagged FLAC files carry (what the reference
    fetches via ffprobe -show_format, Shared/utils.py:80-113)."""
    return (
        b"fLaC"
        + bytes([0x00, 0, 0, 34])
        + _streaminfo_body(sample_rate, total_samples)
        + make_vorbis_comment_block(tags, vendor, last=True)
    )


# ---------------------------------------------------------------------------
# H.264 SPS parse (Exp-Golomb): source WIDTH/HEIGHT from the parameter
# set — the metadata the HLS ladder planner keys on (ladder rungs are
# chosen against source resolution; hls_assignment.py probes it via
# ffprobe). Scope: baseline/main/extended profiles (66/77/88), whose SPS
# layout has no chroma_format/scaling-list branch; high-profile SPS
# raises rather than guessing field order (the honest-boundary rule).
# ---------------------------------------------------------------------------


class _ExpGolombReader:
    """MSB-first bit reader over an RBSP (emulation-prevention bytes
    0x000003 already removed) with ue(v)/se(v) decode."""

    def __init__(self, rbsp: bytes):
        self.d = rbsp
        self.bit = 0

    def u(self, n: int) -> int:
        v = 0
        for _ in range(n):
            byte = self.d[self.bit >> 3]
            v = (v << 1) | ((byte >> (7 - (self.bit & 7))) & 1)
            self.bit += 1
        return v

    def ue(self) -> int:
        zeros = 0
        while self.u(1) == 0:
            zeros += 1
            if zeros > 31:
                raise ValueError("sps: exp-golomb run too long")
        return (1 << zeros) - 1 + (self.u(zeros) if zeros else 0)

    def se(self) -> int:
        k = self.ue()
        return (k + 1) // 2 if k % 2 else -(k // 2)


def _strip_emulation(payload: bytes) -> bytes:
    return payload.replace(b"\x00\x00\x03", b"\x00\x00")


@_valueerror_boundary
def parse_sps(nal: bytes | None) -> dict | None:
    """SPS NAL payload (header byte included, start code NOT) →
    {profile_idc, level_idc, width, height}. Returns None when the byte
    isn't an SPS NAL; raises ValueError on high-profile SPS (the
    chroma-format branch is out of scope — never guess field order) or
    a torn bitstream."""
    if not nal or (nal[0] & 0x1F) != 7:
        return None
    r = _ExpGolombReader(_strip_emulation(nal[1:]))
    profile_idc = r.u(8)
    r.u(8)  # constraint flags + reserved
    level_idc = r.u(8)
    r.ue()  # sps_id
    if profile_idc not in (66, 77, 88):
        raise ValueError(
            f"sps: profile_idc {profile_idc} carries the chroma-format "
            "branch — out of this parser's declared scope"
        )
    r.ue()  # log2_max_frame_num_minus4
    poc_type = r.ue()
    if poc_type == 0:
        r.ue()  # log2_max_pic_order_cnt_lsb_minus4
    elif poc_type == 1:
        r.u(1)  # delta_pic_order_always_zero_flag
        r.se()  # offset_for_non_ref_pic
        r.se()  # offset_for_top_to_bottom_field
        for _ in range(r.ue()):
            r.se()
    r.ue()  # max_num_ref_frames
    r.u(1)  # gaps_in_frame_num_value_allowed_flag
    w_mbs = r.ue() + 1
    h_units = r.ue() + 1
    frame_mbs_only = r.u(1)
    if not frame_mbs_only:
        r.u(1)  # mb_adaptive_frame_field_flag
    r.u(1)  # direct_8x8_inference_flag
    crop_l = crop_r = crop_t = crop_b = 0
    if r.u(1):  # frame_cropping_flag
        crop_l, crop_r, crop_t, crop_b = r.ue(), r.ue(), r.ue(), r.ue()
    # 4:2:0 crop units: X=2, Y=2*(2-frame_mbs_only)
    height_units = 2 - frame_mbs_only
    return {
        "profile_idc": profile_idc,
        "level_idc": level_idc,
        "width": w_mbs * 16 - (crop_l + crop_r) * 2,
        "height": height_units * h_units * 16
        - (crop_t + crop_b) * 2 * height_units,
    }


class _ExpGolombWriter:
    def __init__(self):
        self.bits: list[int] = []

    def u(self, v: int, n: int):
        for i in range(n - 1, -1, -1):
            self.bits.append((v >> i) & 1)

    def ue(self, v: int):
        k = v + 1
        n = k.bit_length()
        self.u(0, n - 1)
        self.u(k, n)

    def tobytes(self) -> bytes:
        self.bits.append(1)  # rbsp_stop_one_bit
        while len(self.bits) % 8:
            self.bits.append(0)
        out = bytearray()
        for i in range(0, len(self.bits), 8):
            b = 0
            for bit in self.bits[i : i + 8]:
                b = (b << 1) | bit
            out.append(b)
        return bytes(out)


def make_sps(
    width: int, height: int, profile_idc: int = 66, level_idc: int = 30
) -> bytes:
    """Baseline-profile SPS NAL payload (header byte included) for a
    4:2:0 frame_mbs_only stream of the given pixel dimensions (crop
    encodes non-multiple-of-16 sizes). Test double."""
    w_mbs = -(-width // 16)
    h_units = -(-height // 16)
    crop_r = (w_mbs * 16 - width) // 2
    crop_b = (h_units * 16 - height) // 2
    if (w_mbs * 16 - width) % 2 or (h_units * 16 - height) % 2:
        raise ValueError("sps: odd crop not representable at 4:2:0")
    w = _ExpGolombWriter()
    w.u(profile_idc, 8)
    w.u(0, 8)
    w.u(level_idc, 8)
    w.ue(0)  # sps_id
    w.ue(0)  # log2_max_frame_num_minus4
    w.ue(2)  # pic_order_cnt_type = 2 (no extra fields)
    w.ue(1)  # max_num_ref_frames
    w.u(0, 1)  # gaps flag
    w.ue(w_mbs - 1)
    w.ue(h_units - 1)
    w.u(1, 1)  # frame_mbs_only
    w.u(1, 1)  # direct_8x8_inference
    if crop_r or crop_b:
        w.u(1, 1)
        w.ue(0)
        w.ue(crop_r)
        w.ue(0)
        w.ue(crop_b)
    else:
        w.u(0, 1)
    w.u(0, 1)  # vui_parameters_present
    return bytes([0x67]) + w.tobytes()


# ---------------------------------------------------------------------------
# WavPack (.wv) block framing. The corpus's audio whitelist includes .wv
# (extract_plan.py:45 _AUDIO_RE family; the reference probes them via
# ffprobe like every other codec). WavPack's container is publicly
# documented (wavpack.com file_format.txt): a stream is a sequence of
# 32-byte "wvpk" block headers, each declaring its byte size, sample
# index and sample count — so a seekable index (duration, sample→byte
# ranges) parses with NO entropy decode, the same framing stance as the
# ADTS/MP3/H.264 lanes. PCM decode stays on the ffmpeg lane (the
# unpacking tables are implementation constants, not spec text).
# ---------------------------------------------------------------------------

# flags bits 23-26 (file_format.txt): sample-rate index; 15 = custom
WVPK_SAMPLE_RATES = (
    6000, 8000, 9600, 11025, 12000, 16000, 22050, 24000, 32000, 44100,
    48000, 64000, 88200, 96000, 192000, None,
)
_WVPK_MONO = 1 << 2
_WVPK_INITIAL = 1 << 11
_WVPK_FINAL = 1 << 12


def make_wvpk_block(block_index: int, block_samples: int, payload: bytes,
                    total_samples: int = 0xFFFFFFFF,
                    sample_rate: int = 44100, mono: bool = False) -> bytes:
    """One conformant 32-byte block header + opaque sub-block payload
    (the indexer never looks inside sub-blocks, mirroring the ADTS
    builder's opaque AAC payloads)."""
    sr_index = (
        WVPK_SAMPLE_RATES.index(sample_rate)
        if sample_rate in WVPK_SAMPLE_RATES[:15] else 15
    )
    flags = 0x3 | _WVPK_INITIAL | _WVPK_FINAL | (sr_index << 23)
    if mono:
        flags |= _WVPK_MONO
    hdr = b"wvpk" + struct.pack(
        "<IHBBIIIII",
        24 + len(payload),  # ckSize: block bytes minus 8
        0x410,  # version
        0,  # block_index bits 32-39
        0,  # total_samples bits 32-39
        total_samples,
        block_index,
        block_samples,
        flags,
        zlib.crc32(payload),  # stand-in CRC (real CRC covers decoded audio)
    )
    return hdr + payload


def make_wvpk_stream(block_samples: list[int], payload_lens: list[int],
                     sample_rate: int = 44100) -> bytes:
    """Concatenate blocks into a valid .wv stream (cumulative sample
    indexes, total declared in the first block)."""
    total = sum(block_samples)
    out = bytearray()
    idx = 0
    for i, (ns, pl) in enumerate(zip(block_samples, payload_lens)):
        out += make_wvpk_block(
            idx, ns, bytes((7 * i + j) % 256 for j in range(pl)),
            total_samples=total if i == 0 else 0xFFFFFFFF,
            sample_rate=sample_rate,
        )
        idx += ns
    return bytes(out)


@_valueerror_boundary
def parse_wvpk_blocks(data: bytes | None) -> list[dict]:
    """Walk a WavPack stream into a block index: one dict per block with
    {idx, byte_offset, byte_length, block_index, block_samples,
    sample_rate, channels, total_samples (first block's declaration)}.

    Same strictness contract as parse_adts_frames: [] for non-WavPack
    input, ValueError for a stream that goes bad mid-walk (lost magic,
    impossible size, torn tail). The header CRC field covers DECODED
    audio, so it is reported, not verified — verification would need
    the full unpacker, which stays on the ffmpeg lane."""
    if not data or data[:4] != b"wvpk":
        return []
    if len(data) < 32:
        raise ValueError("wvpk: truncated first header")
    out: list[dict] = []
    pos = 0
    idx = 0
    while pos < len(data):
        if pos + 32 > len(data):
            raise ValueError(f"wvpk: truncated header at byte {pos}")
        if data[pos : pos + 4] != b"wvpk":
            raise ValueError(f"wvpk: lost block sync at byte {pos}")
        (ck_size, version, index_u8, total_u8, total_samples, block_index,
         block_samples, flags, crc) = struct.unpack_from(
            "<IHBBIIIII", data, pos + 4
        )
        if not 0x402 <= version <= 0x410:
            raise ValueError(f"wvpk: unsupported version {version:#x}")
        if ck_size < 24:
            raise ValueError("wvpk: block size below the header minimum")
        length = ck_size + 8
        if pos + length > len(data):
            raise ValueError(f"wvpk: block at {pos} overruns the buffer")
        sr = WVPK_SAMPLE_RATES[(flags >> 23) & 0xF]
        out.append({
            "idx": idx,
            "byte_offset": pos,
            "byte_length": length,
            "block_index": (index_u8 << 32) | block_index,
            "block_samples": block_samples,
            "sample_rate": sr,
            "channels": 1 if flags & _WVPK_MONO else 2,
            "total_samples": (
                None if total_samples == 0xFFFFFFFF
                else (total_u8 << 32) | total_samples
            ),
            "crc": crc,
        })
        pos += length
        idx += 1
    declared = out[0]["total_samples"] if out else None
    if declared is not None:
        got = sum(b["block_samples"] for b in out)
        if got != declared:
            raise ValueError(
                f"wvpk: blocks deliver {got} samples, first block "
                f"declared {declared}"
            )
    return out


# ---------------------------------------------------------------------------
# MP4 / ISO BMFF (.m4a) sample tables. The corpus whitelist includes
# .m4a (extract_plan.py:45 _AUDIO_RE family; probed via ffprobe in the
# reference). ISO 14496-12's sample tables ARE the seek index: stts
# (durations), stsz (sizes), stsc (sample→chunk), stco/co64 (chunk
# offsets) — so sample-exact byte ranges parse with no decode, the same
# framing stance as the ADTS/MP3/H.264/WavPack lanes. AAC payload
# decode stays on the ffmpeg lane.
# ---------------------------------------------------------------------------


def _box(fourcc: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", 8 + len(payload)) + fourcc + payload


def _full_box(fourcc: bytes, payload: bytes, version: int = 0) -> bytes:
    return _box(fourcc, bytes([version, 0, 0, 0]) + payload)


def make_m4a(sample_sizes: list[int], timescale: int = 44100,
             sample_delta: int = 1024, samples_per_chunk: int = 8) -> bytes:
    """Minimal structurally-valid .m4a: ftyp + moov (mvhd/trak/mdia/
    mdhd/minf/stbl with real stts/stsz/stsc/stco tables) + mdat holding
    opaque sample bytes. The tables are the real thing — the payload is
    opaque, mirroring the ADTS builder."""
    n = len(sample_sizes)
    duration = n * sample_delta
    n_chunks = (n + samples_per_chunk - 1) // samples_per_chunk

    def boxes(chunk_offsets: list[int]) -> bytes:
        stts = _full_box(
            b"stts", struct.pack(">I", 1)
            + struct.pack(">II", n, sample_delta)
        )
        stsz = _full_box(
            b"stsz", struct.pack(">II", 0, n)
            + b"".join(struct.pack(">I", s) for s in sample_sizes)
        )
        stsc = _full_box(
            b"stsc", struct.pack(">I", 1)
            + struct.pack(">III", 1, samples_per_chunk, 1)
        )
        stco = _full_box(
            b"stco", struct.pack(">I", n_chunks)
            + b"".join(struct.pack(">I", o) for o in chunk_offsets)
        )
        stsd = _full_box(b"stsd", struct.pack(">I", 0))
        stbl = _box(b"stbl", stsd + stts + stsc + stsz + stco)
        dref = _full_box(
            b"dref", struct.pack(">I", 1) + _full_box(b"url ", b"", 1)
        )
        minf = _box(
            b"minf",
            _full_box(b"smhd", bytes(4)) + _box(b"dinf", dref) + stbl,
        )
        hdlr = _full_box(
            b"hdlr", bytes(4) + b"soun" + bytes(12) + b"Sound\x00"
        )
        mdhd = _full_box(
            b"mdhd",
            struct.pack(">IIIIHH", 0, 0, timescale, duration, 0x55C4, 0),
        )
        mdia = _box(b"mdia", mdhd + hdlr + minf)
        tkhd = _full_box(
            b"tkhd", struct.pack(">IIII", 0, 0, 1, 0)
            + struct.pack(">I", duration) + bytes(60)
        )
        trak = _box(b"trak", tkhd + mdia)
        mvhd = _full_box(
            b"mvhd",
            struct.pack(">IIII", 0, 0, timescale, duration) + bytes(80),
        )
        return _box(b"moov", mvhd + trak)

    ftyp = _box(b"ftyp", b"M4A " + struct.pack(">I", 0) + b"M4A mp42isom")
    moov_size = len(boxes([0] * n_chunks))
    mdat_payload_at = len(ftyp) + moov_size + 8
    offsets = []
    at = mdat_payload_at
    for c in range(n_chunks):
        offsets.append(at)
        at += sum(
            sample_sizes[c * samples_per_chunk : (c + 1) * samples_per_chunk]
        )
    payload = bytes(
        (11 * i + 3) % 256 for i in range(sum(sample_sizes))
    )
    return ftyp + boxes(offsets) + _box(b"mdat", payload)


def _walk_boxes(data: bytes, start: int, end: int):
    """Yield (fourcc, payload_start, payload_end) for the boxes in
    [start, end); ValueError on torn sizes."""
    pos = start
    while pos < end:
        if pos + 8 > end:
            raise ValueError(f"mp4: truncated box header at byte {pos}")
        size = struct.unpack_from(">I", data, pos)[0]
        fourcc = data[pos + 4 : pos + 8]
        body = pos + 8
        if size == 1:
            if pos + 16 > end:
                raise ValueError(f"mp4: truncated largesize at byte {pos}")
            size = struct.unpack_from(">Q", data, pos + 8)[0]
            body = pos + 16
        elif size == 0:
            size = end - pos  # box extends to the end of the enclosure
        if size < body - pos or pos + size > end:
            raise ValueError(f"mp4: box at {pos} overruns its enclosure")
        yield fourcc, body, pos + size
        pos += size


def _find_box(data: bytes, start: int, end: int, fourcc: bytes
              ) -> tuple[int, int] | None:
    for cc, b, e in _walk_boxes(data, start, end):
        if cc == fourcc:
            return b, e
    return None


@_valueerror_boundary
def parse_m4a_sample_index(data: bytes | None) -> dict | None:
    """ISO BMFF audio → {timescale, duration, sample_delta entries,
    sample_offsets, sample_sizes} — the sample-exact byte index the
    chunk planner consumes. None for non-MP4 input (no ftyp); ValueError
    on torn boxes or inconsistent tables. Reads the FIRST trak whose
    handler is 'soun' (falls back to the first trak)."""
    if not data or len(data) < 12 or data[4:8] != b"ftyp":
        return None
    moov = _find_box(data, 0, len(data), b"moov")
    if moov is None:
        raise ValueError("mp4: missing moov box")
    chosen = None
    first = None
    for cc, b, e in _walk_boxes(data, *moov):
        if cc != b"trak":
            continue
        mdia = _find_box(data, b, e, b"mdia")
        if mdia is None:
            raise ValueError("mp4: trak without mdia")
        if first is None:
            first = mdia
        hdlr = _find_box(data, *mdia, b"hdlr")
        if hdlr and data[hdlr[0] + 8 : hdlr[0] + 12] == b"soun":
            chosen = mdia
            break
    mdia = chosen or first
    if mdia is None:
        raise ValueError("mp4: no trak in moov")
    mdhd = _find_box(data, *mdia, b"mdhd")
    if mdhd is None:
        raise ValueError("mp4: missing mdhd")
    version = data[mdhd[0]]
    if version == 1:  # 8-byte times: verflags+8+8, then timescale u32
        timescale, duration = struct.unpack_from(">IQ", data, mdhd[0] + 20)
    else:  # v0: verflags(4) + creation(4) + modification(4), then u32 pair
        timescale, duration = struct.unpack_from(">II", data, mdhd[0] + 12)
    minf = _find_box(data, *mdia, b"minf")
    stbl = minf and _find_box(data, *minf, b"stbl")
    if not stbl:
        raise ValueError("mp4: missing stbl")

    def full(cc: bytes, required: bool = True) -> tuple[int, int] | None:
        got = _find_box(data, *stbl, cc)
        if got is None and required:
            raise ValueError(f"mp4: missing {cc.decode()} box")
        return got

    # stts: [(count, delta)]
    b, e = full(b"stts")
    n_ent = struct.unpack_from(">I", data, b + 4)[0]
    if b + 8 + 8 * n_ent > e:
        raise ValueError("mp4: stts overruns its box")
    stts = [struct.unpack_from(">II", data, b + 8 + 8 * i)
            for i in range(n_ent)]
    # stsz
    b, e = full(b"stsz")
    uniform, n_samples = struct.unpack_from(">II", data, b + 4)
    if uniform:
        sizes = [uniform] * n_samples
    else:
        if b + 12 + 4 * n_samples > e:
            raise ValueError("mp4: stsz overruns its box")
        sizes = [struct.unpack_from(">I", data, b + 12 + 4 * i)[0]
                 for i in range(n_samples)]
    if sum(c for c, _ in stts) != n_samples:
        raise ValueError("mp4: stts/stsz sample counts disagree")
    # stsc: [(first_chunk, samples_per_chunk, sdi)]
    b, e = full(b"stsc")
    n_ent = struct.unpack_from(">I", data, b + 4)[0]
    if b + 8 + 12 * n_ent > e:
        raise ValueError("mp4: stsc overruns its box")
    stsc = [struct.unpack_from(">III", data, b + 8 + 12 * i)
            for i in range(n_ent)]
    # stco / co64
    got = full(b"stco", required=False)
    if got:
        b, e = got
        n_chunks = struct.unpack_from(">I", data, b + 4)[0]
        if b + 8 + 4 * n_chunks > e:
            raise ValueError("mp4: stco overruns its box")
        chunk_offs = [struct.unpack_from(">I", data, b + 8 + 4 * i)[0]
                      for i in range(n_chunks)]
    else:
        b, e = full(b"co64")
        n_chunks = struct.unpack_from(">I", data, b + 4)[0]
        if b + 8 + 8 * n_chunks > e:
            raise ValueError("mp4: co64 overruns its box")
        chunk_offs = [struct.unpack_from(">Q", data, b + 8 + 8 * i)[0]
                      for i in range(n_chunks)]
    # expand stsc runs to per-chunk sample counts
    per_chunk: list[int] = []
    for i, (first, spc, _sdi) in enumerate(stsc):
        last = stsc[i + 1][0] - 1 if i + 1 < len(stsc) else n_chunks
        if first < 1 or last < first - 1:
            raise ValueError("mp4: stsc chunk runs are not increasing")
        per_chunk.extend([spc] * (last - first + 1))
    if len(per_chunk) != n_chunks:
        raise ValueError("mp4: stsc does not cover every chunk")
    # per-sample offsets: cumulate sizes inside each chunk
    offsets: list[int] = []
    si = 0
    for ci, base in enumerate(chunk_offs):
        at = base
        for _ in range(per_chunk[ci]):
            if si >= n_samples:
                break
            offsets.append(at)
            at += sizes[si]
            si += 1
    if si != n_samples:
        raise ValueError("mp4: chunks hold fewer samples than declared")
    for off, sz in zip(offsets, sizes):
        if off + sz > len(data):
            raise ValueError("mp4: sample data overruns the file")
    return {
        "timescale": timescale,
        "duration": duration,
        "n_samples": n_samples,
        "stts": stts,
        "sample_offsets": offsets,
        "sample_sizes": sizes,
    }


# ---------------------------------------------------------------------------
# Ogg container (.ogg / .opus) page framing. RFC 3533 defines the page
# layout (capture pattern, 64-bit granule position, CRC-32 over the
# whole page, lacing-value segment table); the codec identification
# headers are the Vorbis I spec §4.2 ("\x01vorbis" ID packet) and
# RFC 7845 §5.1 ("OpusHead"). Both extensions sit in the reference's
# own release-format recognizers (disc_scanner.py:72,
# info_scanner_ph2.py:43); the reference probes them via ffprobe —
# this lane parses the page index and stream identity with no child
# process and no payload decode, the framing stance of the
# ADTS/MP3/H.264/WavPack/MP4 lanes. Packet payloads (Vorbis setup
# bitstream, Opus frames) stay opaque: PCM decode is the ffmpeg lane.
# ---------------------------------------------------------------------------

# RFC 3533 §6: CRC-32, generator 0x04c11db7, init 0, no reflection,
# no final XOR — NOT zlib's reflected CRC. But it IS computable THROUGH
# zlib: a non-reflected CRC over data equals the bit-reversal of a
# reflected CRC (reversed polynomial 0xEDB88320 — exactly zlib's) over
# bit-reversed bytes. So the hot path is one bytes.translate (C) + one
# zlib.crc32 (C) + a 32-bit bit reversal, instead of a per-byte Python
# loop that dominated corpus-sized page walks (every page is CRC-verified).
# zlib.crc32(data, 0xFFFFFFFF) = ~raw_update(0, data), so the raw
# init-0/no-xor register is ~result.
_BITREV8 = bytes(int(f"{b:08b}"[::-1], 2) for b in range(256))
_BITREV8_TABLE = bytes.maketrans(bytes(range(256)), _BITREV8)


def ogg_crc(data: bytes) -> int:
    raw = ~zlib.crc32(data.translate(_BITREV8_TABLE), 0xFFFFFFFF) & 0xFFFFFFFF
    return (
        _BITREV8[raw & 0xFF] << 24
        | _BITREV8[(raw >> 8) & 0xFF] << 16
        | _BITREV8[(raw >> 16) & 0xFF] << 8
        | _BITREV8[(raw >> 24) & 0xFF]
    )


def make_ogg_page(
    serial: int,
    page_seq: int,
    granule: int,
    packets: list[bytes],
    *,
    continued: bool = False,
    bos: bool = False,
    eos: bool = False,
    open_tail: bool = False,
) -> bytes:
    """One RFC 3533 page. Each packet laces to s//255 255-values plus a
    terminating s%255 value; `open_tail=True` suppresses the terminator
    of the LAST packet (its lacing ends on a 255), declaring it
    continued on the next page (which must set `continued=True`)."""
    lacing = bytearray()
    for i, p in enumerate(packets):
        q, r = divmod(len(p), 255)
        lacing += b"\xff" * q
        if not (open_tail and i == len(packets) - 1):
            lacing.append(r)
        elif r:
            raise ValueError("ogg: an open tail packet must lace to 255s only")
    if len(lacing) > 255:
        raise ValueError("ogg: more than 255 lacing values on one page")
    htype = (1 if continued else 0) | (2 if bos else 0) | (4 if eos else 0)
    payload = b"".join(packets)
    head = struct.pack(
        "<4sBBqIIIB",
        b"OggS", 0, htype, granule, serial, page_seq, 0, len(lacing),
    )
    page = bytearray(head + bytes(lacing) + payload)
    crc = ogg_crc(bytes(page))
    struct.pack_into("<I", page, 22, crc)
    return bytes(page)


def make_vorbis_id_packet(channels: int = 2, sample_rate: int = 44100) -> bytes:
    """Vorbis I §4.2.2 identification header (blocksizes 256/2048)."""
    return (
        b"\x01vorbis"
        + struct.pack("<IBI", 0, channels, sample_rate)
        + struct.pack("<iii", -1, 0, -1)
        + bytes([(11 << 4) | 8, 0x01])
    )


def make_opus_head(channels: int = 2, pre_skip: int = 312,
                   input_rate: int = 48000) -> bytes:
    """RFC 7845 §5.1 OpusHead (version 1, mapping family 0)."""
    return b"OpusHead" + struct.pack(
        "<BBHIhB", 1, channels, pre_skip, input_rate, 0, 0
    )


def make_ogg_stream(
    codec: str,
    page_packet_sizes: list[list[int]],
    samples_per_page: int,
    *,
    serial: int = 0x1234,
    channels: int = 2,
    sample_rate: int = 44100,
    pre_skip: int = 312,
    title: str = "t0000",
    tags: list[tuple[str, str]] | None = None,
    vendor: str = "tlmc-etl",
) -> bytes:
    """A complete single-bitstream Ogg file: codec ID page (bos) +
    tag/setup page + one audio page per `page_packet_sizes` entry whose
    packets are deterministic filler. Granule positions accumulate
    `samples_per_page` per audio page; Opus granules include `pre_skip`
    (RFC 7845 §4.2). The last audio page sets eos. With `tags`, the
    comment list carries them in order instead of the single default
    TITLE item (the default keeps header page sizes constant for the
    chunk-plan oracle's closed-form arithmetic)."""
    vb = vendor.encode()
    comment_body = struct.pack("<I", len(vb)) + vb
    items = [
        f"{k}={v}".encode()
        for k, v in (tags if tags is not None else [("TITLE", title)])
    ]
    comment_body += struct.pack("<I", len(items))
    for item in items:
        comment_body += struct.pack("<I", len(item)) + item
    if codec == "vorbis":
        id_pkt = make_vorbis_id_packet(channels, sample_rate)
        tag_pkts = [
            b"\x03vorbis" + comment_body + b"\x01",
            b"\x05vorbis" + bytes((3 * i + 1) % 256 for i in range(64)) + b"\x01",
        ]
        g0 = 0
    elif codec == "opus":
        id_pkt = make_opus_head(channels, pre_skip, sample_rate)
        tag_pkts = [b"OpusTags" + comment_body]
        g0 = pre_skip
    else:
        raise ValueError(f"ogg: unknown codec {codec!r}")
    out = bytearray()
    out += make_ogg_page(serial, 0, 0, [id_pkt], bos=True)
    out += make_ogg_page(serial, 1, 0, tag_pkts)
    for i, sizes in enumerate(page_packet_sizes):
        pkts = [
            bytes((5 * i + 7 * j + k) % 256 for k in range(s))
            for j, s in enumerate(sizes)
        ]
        out += make_ogg_page(
            serial, 2 + i, g0 + (i + 1) * samples_per_page, pkts,
            eos=(i == len(page_packet_sizes) - 1),
        )
    return bytes(out)


@_valueerror_boundary
def parse_ogg_pages(data: bytes | None) -> list[dict]:
    """Walk an Ogg stream into a page index: one dict per page with
    {idx, byte_offset, byte_length, granule_pos, serial, page_seq,
    bos, eos, continued, n_segments, n_packets, payload_len}.
    `n_packets` counts packets COMPLETED on the page (lacing values
    below 255, per RFC 3533 §5 — a 255-terminated tail continues).

    Same strictness contract as parse_wvpk_blocks: [] for non-Ogg
    input, ValueError for a stream that goes bad mid-walk (lost
    capture pattern, bad version, CRC mismatch, per-bitstream sequence
    gap, torn tail)."""
    if not data or data[:4] != b"OggS":
        return []
    if len(data) < 27:
        raise ValueError("ogg: truncated first page header")
    out: list[dict] = []
    next_seq: dict[int, int] = {}
    pos = 0
    idx = 0
    while pos < len(data):
        if pos + 27 > len(data):
            raise ValueError(f"ogg: truncated page header at byte {pos}")
        if data[pos : pos + 4] != b"OggS":
            raise ValueError(f"ogg: lost capture pattern at byte {pos}")
        version, htype, granule, serial, seq, crc, n_segs = struct.unpack_from(
            "<BBqIIIB", data, pos + 4
        )
        if version != 0:
            raise ValueError(f"ogg: unsupported stream structure version {version}")
        if pos + 27 + n_segs > len(data):
            raise ValueError(f"ogg: truncated segment table at byte {pos}")
        lacing = data[pos + 27 : pos + 27 + n_segs]
        payload_len = sum(lacing)
        length = 27 + n_segs + payload_len
        if pos + length > len(data):
            raise ValueError(f"ogg: page at {pos} overruns the buffer")
        page = bytearray(data[pos : pos + length])
        struct.pack_into("<I", page, 22, 0)
        if ogg_crc(bytes(page)) != crc:
            raise ValueError(f"ogg: CRC mismatch on page at byte {pos}")
        want = next_seq.get(serial)
        if want is not None and seq != want:
            raise ValueError(
                f"ogg: page sequence gap on serial {serial:#x} at byte {pos}"
                f" (expected {want}, found {seq})"
            )
        next_seq[serial] = seq + 1
        out.append({
            "idx": idx,
            "byte_offset": pos,
            "byte_length": length,
            "granule_pos": granule,
            "serial": serial,
            "page_seq": seq,
            "bos": bool(htype & 2),
            "eos": bool(htype & 4),
            "continued": bool(htype & 1),
            "n_segments": n_segs,
            "n_packets": sum(1 for v in lacing if v < 255),
            "payload_len": payload_len,
        })
        pos += length
        idx += 1
    return out


def _ogg_stream_packets(
    data: bytes,
    pages: list[dict],
    serial: int,
    max_packets: int | None = None,
) -> list[bytes]:
    """Reassemble one logical bitstream's packets across its pages
    (RFC 3533 §5: a 255-terminated lacing tail continues on the next
    page, whose header must set the continued flag). Real header
    packets DO span pages — large Vorbis setup codebooks, cover art in
    OpusTags — so packet extraction cannot assume one page per packet.
    Stops after `max_packets` completed packets when given."""
    out: list[bytes] = []
    buf = bytearray()
    for p in pages:
        if p["serial"] != serial:
            continue
        if p["continued"] != bool(buf):
            raise ValueError(
                f"ogg: page continuation mismatch at byte {p['byte_offset']}"
            )
        at = p["byte_offset"]
        n_segs = p["n_segments"]
        lacing = data[at + 27 : at + 27 + n_segs]
        body = at + 27 + n_segs
        run = 0
        for v in lacing:
            run += v
            if v < 255:
                buf += data[body : body + run]
                body += run
                run = 0
                out.append(bytes(buf))
                buf.clear()
                if max_packets is not None and len(out) >= max_packets:
                    return out
        if run:
            buf += data[body : body + run]
    return out


@_valueerror_boundary
def parse_ogg_stream_info(
    data: bytes | None, pages: list[dict] | None = None
) -> dict | None:
    """Identify the FIRST logical bitstream of an Ogg file and derive
    its duration from the page index: {codec, channels, sample_rate,
    granule_rate, pre_skip, last_granule, n_samples, duration_s,
    n_pages, n_audio_packets}. Vorbis granules count at the declared
    sample rate; Opus granules always count at 48 kHz and include
    pre_skip (RFC 7845 §4.2). None for non-Ogg input; ValueError for a
    recognized stream whose ID packet is torn or unknown. Pass a
    pre-parsed `pages` list to skip re-walking (and re-CRCing) the
    stream. The ID packet is read from the first page alone — both
    specs require it there — but the audio-packet count subtracts the
    codec's header-packet count from the cross-page completed-packet
    total, so multi-page comment/setup headers are not miscounted as
    audio."""
    if pages is None:
        pages = parse_ogg_pages(data)
    if not pages:
        return None
    first = pages[0]
    if not first["bos"]:
        raise ValueError("ogg: first page is not a beginning-of-stream page")
    serial = first["serial"]
    head = data[
        first["byte_offset"] + 27 + first["n_segments"] :
        first["byte_offset"] + first["byte_length"]
    ]
    if head.startswith(b"\x01vorbis"):
        if len(head) < 30:
            raise ValueError("ogg: torn Vorbis identification header")
        channels, rate = struct.unpack_from("<BI", head, 11)
        codec, granule_rate, pre_skip = "vorbis", rate, 0
        n_headers = 3  # ID + comment + setup (Vorbis I §4.2)
    elif head.startswith(b"OpusHead"):
        if len(head) < 19:
            raise ValueError("ogg: torn OpusHead")
        _v, channels, pre_skip, rate = struct.unpack_from("<BBHI", head, 8)
        codec, granule_rate = "opus", 48000
        n_headers = 2  # OpusHead + OpusTags (RFC 7845 §3)
    else:
        raise ValueError("ogg: unknown codec identification packet")
    mine = [p for p in pages if p["serial"] == serial]
    # RFC 3533 §6 allows granule_pos = -1 on a page where no packet
    # completes; duration must come from the last page that CARRIES a
    # position, not blindly from the final page (which would silently
    # yield 0 samples).
    last_granule = next(
        (p["granule_pos"] for p in reversed(mine) if p["granule_pos"] != -1), None
    )
    if last_granule is None:
        raise ValueError("ogg: no page of the stream carries a granule position")
    n_samples = max(last_granule - pre_skip, 0)
    n_audio_packets = max(sum(p["n_packets"] for p in mine) - n_headers, 0)
    return {
        "codec": codec,
        "channels": channels,
        "sample_rate": rate,
        "granule_rate": granule_rate,
        "pre_skip": pre_skip,
        "last_granule": last_granule,
        "n_samples": n_samples,
        "duration_s": round(n_samples / granule_rate, 6),
        "n_pages": len(mine),
        "n_audio_packets": n_audio_packets,
    }


@_valueerror_boundary
def parse_ogg_comments(
    data: bytes | None, pages: list[dict] | None = None
) -> dict | None:
    """Tag scan for the FIRST logical bitstream of an Ogg file:
    {codec, vendor, tags} from the Vorbis comment header (Vorbis I §5)
    or OpusTags (RFC 7845 §5.2) — packet 1 of the stream, reassembled
    across pages (cover-art tags routinely span pages). Same
    comment-list layout as FLAC's VORBIS_COMMENT — parsed by the same
    helper, so the three tag channels (FLAC block, Vorbis header,
    OpusTags) cannot drift apart. Codec dispatch reads the ID packet
    directly (no second stream walk). None for non-Ogg input;
    ValueError for a recognized stream whose comment packet is torn.
    Pass a pre-parsed `pages` list to skip re-walking the stream."""
    if pages is None:
        pages = parse_ogg_pages(data)
    if not pages:
        return None
    if not pages[0]["bos"]:
        raise ValueError("ogg: first page is not a beginning-of-stream page")
    serial = pages[0]["serial"]
    packets = _ogg_stream_packets(data, pages, serial, max_packets=2)
    if len(packets) < 2:
        raise ValueError(
            "ogg: no comment header completes (stream ends after the ID packet)"
        )
    head, pkt = packets[0], packets[1]
    if head.startswith(b"\x01vorbis"):
        codec = "vorbis"
        if not pkt.startswith(b"\x03vorbis"):
            raise ValueError("ogg: packet 1 is not a Vorbis comment header")
        # Vorbis I §5.2 mandates a NONZERO framing bit — the low bit of the
        # final byte; the other seven bits are padding a conformant muxer
        # may set, so an exact 0x01 compare would reject e.g. 0x81.
        if not (pkt[-1] & 1):
            raise ValueError("ogg: Vorbis comment header missing framing bit")
        body = pkt[7:-1]
    elif head.startswith(b"OpusHead"):
        codec = "opus"
        if not pkt.startswith(b"OpusTags"):
            raise ValueError("ogg: packet 1 is not an OpusTags packet")
        body = pkt[8:]
    else:
        raise ValueError("ogg: unknown codec identification packet")
    vendor, tags = _parse_vorbis_comment_body(body, "ogg")
    return {"codec": codec, "vendor": vendor, "tags": tags}
