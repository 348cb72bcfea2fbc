"""Ogg container metadata — Vorbis/Opus identification (round 15, F63,
r14 verdict #8).

The last common audio container after WAV/MP3/FLAC (F30/F57/F58). Same
metadata-not-full-decode policy: an OggS page walk + the first
packet's identification header, closed-form integer fields only —
codec, channels, sample rate, Opus pre-skip, and duration from the
LAST page's granule position (the spec's own duration story: granule
counts PCM samples — Vorbis at the stream rate, Opus always at 48 kHz
minus pre-skip). Audio packet decode is out of scope by policy — the
documented libvorbis/libopus swap seam.

Page grammar (RFC 3533, public): ``OggS`` capture + version(1=0) +
header_type(1: 0x02 BOS, 0x04 EOS) + granule(8 LE) + serial(4 LE) +
sequence(4 LE) + crc(4) + n_segments(1) + segment table; payload size
is the segment-table sum. CRC is NOT verified (metadata policy —
declared, like the MP3 walker's CRC-bit passthrough).

Identification headers (RFC 7845 for Opus, the Vorbis I spec):
``\\x01vorbis`` → version(4) channels(1) rate(4 LE) bitrates(12)
blocksizes(1) framing(1); ``OpusHead`` → version(1) channels(1)
pre_skip(2 LE) input_rate(4 LE) gain(2) mapping(1).

Reference parity: tabular-only reference — declared beyond-reference.
Scale: row-local Arrow kernel, zero shuffles, corrupt → valid=false.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame

from petk_spark.operators.multimodal import _meta_adapter, _row_frame

__all__ = [
    "synth_ogg",
    "parse_ogg_metadata",
    "ogg_features_frame",
    "OGG_FEATURES_SCHEMA",
]


def _page(header_type: int, granule: int, serial: int, seq: int,
          payload: bytes) -> bytes:
    """One Ogg page holding ``payload`` as lacing segments (255-runs +
    terminator <255). CRC written as 0 — the walker doesn't verify."""
    segs = []
    n = len(payload)
    while n >= 255:
        segs.append(255)
        n -= 255
    segs.append(n)
    return (
        b"OggS" + bytes([0, header_type])
        + struct.pack("<q", granule)
        + struct.pack("<II", serial, seq)
        + b"\x00\x00\x00\x00"
        + bytes([len(segs)]) + bytes(segs) + payload
    )


def _comment_packet(codec: str, tags: dict[str, str]) -> bytes:
    """The codec's comment header packet (round 16): ``\x03vorbis`` /
    ``OpusTags`` + vendor string + length-prefixed ``KEY=value``
    fields (the Vorbis-comment format both codecs share; Opus omits
    the trailing framing bit)."""
    magic = b"\x03vorbis" if codec == "vorbis" else b"OpusTags"
    vendor = b"petk_spark"
    out = bytearray(magic)
    out += struct.pack("<I", len(vendor)) + vendor
    out += struct.pack("<I", len(tags))
    for k, v in tags.items():
        field = f"{k}={v}".encode("utf-8")
        out += struct.pack("<I", len(field)) + field
    if codec == "vorbis":
        out += b"\x01"                           # framing bit
    return bytes(out)


def synth_ogg(
    codec: str,
    sample_rate: int,
    n_channels: int,
    granule: int,
    pre_skip: int = 0,
    n_body_pages: int = 1,
    tags: dict[str, str] | None = None,
) -> bytes:
    """Minimal valid Ogg stream: a BOS page carrying the codec's
    identification header, an optional comment-header page (``tags``
    → Vorbis-comment ``KEY=value`` fields, round 16), ``n_body_pages``
    audio-stub pages with intermediate granules, and an EOS page whose
    granule position is ``granule`` (what duration derives from).
    ``codec`` is ``vorbis`` or ``opus``; for opus the stream's granule
    clock is 48 kHz and ``pre_skip`` is stamped into OpusHead."""
    if codec == "vorbis":
        ident = (
            b"\x01vorbis" + struct.pack("<I", 0)
            + bytes([n_channels]) + struct.pack("<I", sample_rate)
            + struct.pack("<iii", 0, 128000, 0)
            + bytes([0xB8])                       # blocksizes 256/2048
            + b"\x01"                             # framing bit
        )
    elif codec == "opus":
        ident = (
            b"OpusHead" + bytes([1, n_channels])
            + struct.pack("<H", pre_skip)
            + struct.pack("<I", sample_rate)
            + struct.pack("<h", 0) + bytes([0])   # gain, mapping 0
        )
    else:
        raise ValueError(f"unknown codec {codec!r}")
    serial = 0x4F67            # arbitrary fixed stream serial
    out = _page(0x02, 0, serial, 0, ident)
    seq = 1
    if tags is not None:
        out += _page(0x00, 0, serial, seq, _comment_packet(codec, tags))
        seq += 1
    for i in range(n_body_pages):
        body_granule = granule * (i + 1) // (n_body_pages + 1)
        out += _page(0x00, body_granule, serial, seq + i,
                     b"\x00" * (17 + 11 * i))
    out += _page(0x04, granule, serial, seq + n_body_pages, b"\x00" * 5)
    return out


def parse_ogg_metadata(payload: bytes | None) -> dict | None:
    """Page walk to ``{codec, sample_rate, n_channels, pre_skip,
    granule, duration_ms}`` or ``None`` for anything not a well-formed
    Ogg head (bad capture, truncated page, unknown first packet).
    Duration: Vorbis — last granule over the stream rate; Opus —
    (last granule − pre_skip) over the 48 kHz granule clock (RFC 7845
    §4; the OpusHead ``input_sample_rate`` is informational and is
    reported but never used for timing)."""
    if payload is None or len(payload) < 28 or payload[:4] != b"OggS":
        return None
    p = bytes(payload)
    pos = 0
    first_packet = None
    second_packet = None
    last_granule = None
    while pos + 27 <= len(p):
        if p[pos:pos + 4] != b"OggS" or p[pos + 4] != 0:
            break
        granule = struct.unpack("<q", p[pos + 6:pos + 14])[0]
        n_segs = p[pos + 26]
        table_end = pos + 27 + n_segs
        if table_end > len(p):
            return None                          # truncated header
        body_len = sum(p[pos + 27:table_end])
        if table_end + body_len > len(p):
            return None                          # truncated body
        if first_packet is None:
            first_packet = p[table_end:table_end + body_len]
        elif second_packet is None:
            second_packet = p[table_end:table_end + body_len]
        if granule >= 0:
            last_granule = granule
        pos = table_end + body_len
    if first_packet is None or last_granule is None:
        return None
    title, artist = _comment_tags(second_packet)
    if first_packet[:7] == b"\x01vorbis":
        if len(first_packet) < 30:
            return None
        channels = first_packet[11]
        rate = struct.unpack("<I", first_packet[12:16])[0]
        if rate == 0 or channels == 0:
            return None
        return {
            "codec": "vorbis",
            "sample_rate": rate,
            "n_channels": channels,
            "pre_skip": 0,
            "granule": last_granule,
            "duration_ms": last_granule * 1000 // rate,
            "title": title,
            "artist": artist,
        }
    if first_packet[:8] == b"OpusHead":
        if len(first_packet) < 19:
            return None
        channels = first_packet[9]
        pre_skip = struct.unpack("<H", first_packet[10:12])[0]
        rate = struct.unpack("<I", first_packet[12:16])[0]
        if channels == 0:
            return None
        samples = max(0, last_granule - pre_skip)
        return {
            "codec": "opus",
            "sample_rate": rate,
            "n_channels": channels,
            "pre_skip": pre_skip,
            "granule": last_granule,
            "duration_ms": samples * 1000 // 48000,
            "title": title,
            "artist": artist,
        }
    return None


def _comment_tags(packet: bytes | None):
    """(title, artist) from a Vorbis-comment header packet
    (``\x03vorbis`` / ``OpusTags``), case-insensitive keys, or
    (None, None) for absent/non-comment/short packets — a malformed
    field list stops at the fields parsed so far, never raises."""
    if packet is None:
        return None, None
    if packet[:7] == b"\x03vorbis":
        at = 7
    elif packet[:8] == b"OpusTags":
        at = 8
    else:
        return None, None
    title = artist = None
    try:
        if at + 4 > len(packet):
            return None, None
        vlen = struct.unpack("<I", packet[at:at + 4])[0]
        at += 4 + vlen
        if at + 4 > len(packet):
            return None, None
        count = struct.unpack("<I", packet[at:at + 4])[0]
        at += 4
        for _ in range(min(count, 256)):
            if at + 4 > len(packet):
                break
            flen = struct.unpack("<I", packet[at:at + 4])[0]
            at += 4
            if at + flen > len(packet):
                break
            field = packet[at:at + flen].decode("utf-8", "replace")
            at += flen
            if "=" in field:
                k, v = field.split("=", 1)
                k = k.upper()
                if k == "TITLE" and title is None:
                    title = v
                elif k == "ARTIST" and artist is None:
                    artist = v
    except Exception:
        pass
    return title, artist


OGG_FEATURES_SCHEMA = (
    "id long, valid boolean, codec string, sample_rate int, "
    "n_channels int, pre_skip int, duration_ms long, "
    "title string, artist string"
)


_ogg_row = _meta_adapter(parse_ogg_metadata, OGG_FEATURES_SCHEMA)


def ogg_features_frame(
    df: DataFrame, id_col: str, payload_col: str
) -> DataFrame:
    """Arrow-batched Ogg identification-header extraction — the
    MP3/FLAC/MP4 sibling: row-local, zero shuffles, corrupt payloads →
    valid=false rows."""
    return _row_frame(df, id_col, payload_col, _ogg_row,
                      OGG_FEATURES_SCHEMA)
