"""WebP container metadata decode (round 13 — r12 verdict #5):
the remaining high-share crawl image format after PNG/JPEG/GIF.

Policy: METADATA, not pixels — the AVI-sampler precedent
(``multimodal.py``: walk genuine RIFF container bytes, parse the real
headers, no full VP8/VP8L entropy decode). That makes the image-dedup
surface format-complete for metadata: dimensions, lossy/lossless/
extended variant, alpha, and animation frame count all come from the
actual bitstream headers, so a malformed container or a wrong-variant
header is detected exactly as a real decoder would.

Format (public container spec / RFC 9649, VP8 frame header RFC 6386):

* RIFF wrapper: ``"RIFF" u32le(payload) "WEBP"`` then fourcc chunks,
  each ``fourcc + u32le size + body`` with a pad byte after odd sizes.
* ``VP8 `` (lossy): 3-byte frame tag (keyframe bit, version, show,
  19-bit partition size), 3-byte start code ``9D 01 2A``, then
  ``u16le & 0x3FFF`` width and height (upper 2 bits are scale).
* ``VP8L`` (lossless): signature byte ``0x2F``, then a 32-bit LE
  field: 14-bit width−1, 14-bit height−1, 1 alpha bit, 3 version bits.
* ``VP8X`` (extended): flags byte (ALPHA=0x10, ANIM=0x02), 3 reserved
  bytes, 24-bit LE canvas width−1 and height−1; animation frames are
  ``ANMF`` chunks (counted), each embedding its own ``VP8 ``/``VP8L``
  frame.

Corrupt/truncated/NULL payloads → ``None`` (callers map to
valid=false rows, never task failures) — the shared codec contract.
The ``webp`` kind on ``media_metadata`` pins the parser cross-engine
via closed-form fixtures (the GIF/PNG pattern); two in-repo
synthesizers double as the corrupt-path fuzz base.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame

from petk_spark.operators.multimodal import _row_frame


# ---------------------------------------------------------------------------
# synthesis (fixtures): genuine container + genuine headers, opaque
# entropy bodies (the metadata policy never reads them)
# ---------------------------------------------------------------------------

def _chunk(fourcc: bytes, body: bytes) -> bytes:
    pad = b"\x00" if len(body) % 2 else b""
    return fourcc + struct.pack("<I", len(body)) + body + pad


def _riff(chunks: bytes) -> bytes:
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WEBP" + chunks


def _vp8_body(width: int, height: int) -> bytes:
    """Keyframe VP8 payload: real frame tag + start code + dims, then
    an opaque (never parsed) 16-byte entropy placeholder."""
    psize = 16
    tag = (0) | (0 << 1) | (1 << 4) | (psize << 5)   # key, v0, shown
    return (
        tag.to_bytes(3, "little")
        + b"\x9d\x01\x2a"
        + struct.pack("<HH", width & 0x3FFF, height & 0x3FFF)
        + b"\x00" * psize
    )


def synth_webp_lossy(width: int, height: int) -> bytes:
    return _riff(_chunk(b"VP8 ", _vp8_body(width, height)))


def synth_webp_lossless(width: int, height: int, alpha: bool) -> bytes:
    bits = (width - 1) | ((height - 1) << 14) | (int(alpha) << 28)
    body = b"\x2f" + struct.pack("<I", bits) + b"\x00" * 8
    return _riff(_chunk(b"VP8L", body))


def synth_webp_extended(
    width: int, height: int, alpha: bool, n_frames: int
) -> bytes:
    """VP8X container; ``n_frames >= 1`` adds the ANIM chunk and that
    many ANMF frames, each embedding a real VP8 keyframe subchunk."""
    flags = (0x10 if alpha else 0) | (0x02 if n_frames > 1 else 0)
    vp8x = (
        bytes([flags]) + b"\x00\x00\x00"
        + (width - 1).to_bytes(3, "little")
        + (height - 1).to_bytes(3, "little")
    )
    chunks = _chunk(b"VP8X", vp8x)
    if n_frames > 1:
        chunks += _chunk(b"ANIM", b"\x00\x00\x00\x00\x00\x00")
        for i in range(n_frames):
            anmf = (
                (0).to_bytes(3, "little")            # frame x / 2
                + (0).to_bytes(3, "little")          # frame y / 2
                + (width - 1).to_bytes(3, "little")
                + (height - 1).to_bytes(3, "little")
                + (40 + i).to_bytes(3, "little")     # duration ms
                + b"\x00"                            # blend/dispose
                + _chunk(b"VP8 ", _vp8_body(width, height))
            )
            chunks += _chunk(b"ANMF", anmf)
    else:
        chunks += _chunk(b"VP8 ", _vp8_body(width, height))
    return _riff(chunks)


# ---------------------------------------------------------------------------
# parsing
# ---------------------------------------------------------------------------

def parse_webp_metadata(payload: bytes | None) -> dict | None:
    """Chunk-walk the container and return ``{format, width, height,
    has_alpha, has_anim, n_frames}`` or ``None`` for anything that is
    not a well-formed WebP (wrong magic, truncated chunk, bad VP8
    start code / VP8L signature, missing image chunk)."""
    if payload is None or len(payload) < 20:
        return None
    if payload[0:4] != b"RIFF" or payload[8:12] != b"WEBP":
        return None
    pos = 12
    fmt = None
    w = h = None
    alpha = False
    anim = False
    n_anmf = 0
    while pos + 8 <= len(payload):
        cc = payload[pos : pos + 4]
        (sz,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + sz]
        if len(body) < sz:
            return None                       # truncated chunk
        if cc == b"VP8 " and fmt is None:
            if len(body) < 10 or body[3:6] != b"\x9d\x01\x2a":
                return None
            w = struct.unpack("<H", body[6:8])[0] & 0x3FFF
            h = struct.unpack("<H", body[8:10])[0] & 0x3FFF
            fmt = "lossy"
        elif cc == b"VP8L" and fmt is None:
            if len(body) < 5 or body[0] != 0x2F:
                return None
            (bits,) = struct.unpack("<I", body[1:5])
            w = (bits & 0x3FFF) + 1
            h = ((bits >> 14) & 0x3FFF) + 1
            alpha = bool((bits >> 28) & 1)
            fmt = "lossless"
        elif cc == b"VP8X":
            if len(body) < 10:
                return None
            alpha = bool(body[0] & 0x10)
            anim = bool(body[0] & 0x02)
            w = 1 + int.from_bytes(body[4:7], "little")
            h = 1 + int.from_bytes(body[7:10], "little")
            fmt = "extended"
        elif cc == b"ANMF":
            n_anmf += 1
        pos += 8 + sz + (sz % 2)              # RIFF word alignment
    if fmt is None or w is None or h is None or w < 1 or h < 1:
        return None
    return {
        "format": fmt,
        "width": w,
        "height": h,
        "has_alpha": alpha,
        "has_anim": anim,
        "n_frames": n_anmf if (anim and n_anmf) else 1,
    }


WEBP_FEATURES_SCHEMA = (
    "id long, valid boolean, format string, width int, height int, "
    "n_frames int, n_channels int, bit_depth int, mean_luma double"
)


def _webp_row(payload):
    """WEBP_FEATURES_SCHEMA row (after id) of one payload."""
    meta = parse_webp_metadata(payload)
    if meta is None:
        return (False, None, None, None, None, None, None, None)
    luma = None
    if meta["format"] == "lossless":
        from petk_spark.operators.vp8l import decode_webp

        dec = decode_webp(payload)
        if dec is not None:
            luma = float(dec[3][:, :, :3].mean())
    return (
        True,
        meta["format"],
        meta["width"],
        meta["height"],
        meta["n_frames"],
        4 if meta["has_alpha"] else 3,
        8,
        luma,
    )


def webp_features_frame(
    df: DataFrame, id_col: str, payload_col: str
) -> DataFrame:
    """Arrow-batched WebP metadata extraction — the GIF/AVI sibling:
    row-local, zero shuffles, corrupt payloads → valid=false rows.
    ``n_channels`` is 4 when the header declares alpha, else 3;
    ``bit_depth`` is 8 (the format's sample depth); ``format`` is the
    container variant (lossy/lossless/extended). Round 13 second
    half: LOSSLESS payloads get a REAL pixel decode
    (operators/vp8l.py) and report ``mean_luma`` (mean over the RGB
    channels); lossy/extended stay metadata-only (NULL)."""
    return _row_frame(df, id_col, payload_col, _webp_row,
                      WEBP_FEATURES_SCHEMA)
