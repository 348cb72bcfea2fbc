"""Multimodal (binary) column operators (SURVEY §2.F8).

Images / audio / video are carried as opaque ``BinaryType`` payload
columns plus typed metadata. The Spark-side plumbing — schemas,
partition-preserving projections, Arrow-batched UDF signatures — is
real and tested; the actual media decode is STUBBED (the image/audio
libraries are not available in this environment) behind
``NotImplementedError`` with a deterministic fake used by tests.

Operators:
  * ``binary_metadata_frame`` — size, magic-byte sniffing, md5 — all
    built-in JVM expressions (oracle-checkable).
  * ``wav_metadata_frame`` — REAL decode: stdlib ``struct`` parse of
    genuine RIFF/WAVE container bytes (rate/channels/bits/frames/
    duration) — no media library required, nothing stubbed; corrupt
    blobs yield valid=false rows instead of failing the scan.
  * ``png_features_frame`` — REAL decode: CRC-checked chunk walk, zlib
    IDAT inflate, full 5-filter scanline unfiltering — width/height/
    channels/bit-depth/mean from the actual pixel bytes.
  * ``frame_sample`` — REAL AVI (RIFF) container frame sampling: walks
    the 'movi' LIST and digests the actual frame chunk bytes; only the
    per-frame PIXEL decode (a codec) remains out of scope here.
  * ``decode_image_features`` — generic Arrow-batched plumbing for
    per-item decode → fixed-width feature rows; REAL decode for PNG
    and baseline JPEG since round 10 (``operators/jpeg.py`` closed the
    former non-PNG stub seam); other formats → NULL rows.
"""

from __future__ import annotations

import functools
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# The shared Arrow row kernel: every one-row-per-payload frame below is
# ``_row_frame`` plus a module-level row adapter per format.
# ---------------------------------------------------------------------------


def _field_names(schema) -> list[str]:
    """Column names of a StructType or a flat DDL schema string."""
    if isinstance(schema, T.StructType):
        return schema.names
    return [c.split()[0] for c in schema.split(",")]


def _row_frame(df: DataFrame, id_col: str, payload_col: str, one,
               schema) -> DataFrame:
    """The per-row decode kernel behind every feature frame: one
    ``(id, *one(payload))`` row per input row, Arrow-batched
    (``mapInArrow``: row-local, bounded batches, zero shuffles).

    ``schema`` (StructType or DDL string) names the output columns, id
    first; the id column passes through untouched, so its type is the
    input's (``df.schema[id_col]``), not the schema's. ``one`` gets the
    payload as ``bytes`` or None and returns the non-id values, which go
    straight into typed Arrow arrays — no pandas, so nullable 64-bit
    ints never round-trip through float64."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    id_field, *fields = schema.fields
    out = T.StructType(
        [T.StructField(id_field.name, df.schema[id_col].dataType), *fields]
    )
    types = [to_arrow_type(f.dataType) for f in fields]

    def run(batches):
        for b in batches:
            rows = [one(p) for p in b.column(1).to_pylist()]
            cols = list(zip(*rows)) or [()] * len(types)
            yield pa.RecordBatch.from_arrays(
                [b.column(0)]
                + [pa.array(c, type=t) for c, t in zip(cols, types)],
                names=out.names,
            )

    return df.select(id_col, payload_col).mapInArrow(run, out)


def _meta_adapter(parse, schema):
    """Row adapter for a parser returning a field dict or None: the
    typed columns after ``id, valid`` are read from the dict by name;
    None becomes a valid=false all-NULL row."""
    names = _field_names(schema)[2:]
    miss = (False,) + (None,) * len(names)

    def row(payload):
        meta = parse(payload)
        return miss if meta is None else (True, *(meta[n] for n in names))

    return row


def _hash_words(hx: str | None, n: int) -> tuple:
    """A hex hash as ``n`` signed 64-bit words, most significant first
    (the LongType form ``hamming_near_dup`` blocks on); NULLs for a NULL
    hash."""
    if hx is None:
        return (None,) * n
    u = int(hx, 16)
    words = []
    for k in reversed(range(n)):
        w = (u >> (64 * k)) & ((1 << 64) - 1)
        words.append(w - (1 << 64) if w >= (1 << 63) else w)
    return tuple(words)


#: Magic-byte prefixes → declared media type (sniffed with startswith on
#: the hex encoding — a pure JVM expression).
MAGIC_PREFIXES: list[tuple[str, str]] = [
    ("89504E47", "image/png"),
    ("FFD8FF", "image/jpeg"),
    ("47494638", "image/gif"),
    ("52494646", "riff"),  # wav/avi containers
    ("494433", "audio/mp3"),
    ("664C6143", "audio/flac"),
    ("00000018667479", "video/mp4"),
    ("1A45DFA3", "video/webm"),
]


def sniff_media_type(payload: Column) -> Column:
    """Declared media type from magic bytes (JVM-side hex prefix match).

    Only the first 8 bytes are hexed — every magic prefix fits there, and
    hexing whole payloads would triple-materialize each blob at scale."""
    hexed = F.upper(F.hex(F.substring(payload, 1, 8)))
    out = F.lit("application/octet-stream")
    for prefix, mtype in reversed(MAGIC_PREFIXES):
        out = F.when(hexed.startswith(prefix), F.lit(mtype)).otherwise(out)
    return F.when(payload.isNull(), F.lit(None).cast("string")).otherwise(out)


def binary_metadata_frame(
    df: DataFrame, id_col: str, payload_col: str
) -> DataFrame:
    """(id, n_bytes, media_type, digest) metadata profile of a binary
    column — one scan, zero Python."""
    p = F.col(payload_col)
    return df.select(
        F.col(id_col).alias("id"),
        F.length(p).cast("long").alias("n_bytes"),
        sniff_media_type(p).alias("media_type"),
        F.md5(p).alias("digest"),
    )


# ---------------------------------------------------------------------------
# REAL metadata decode: WAV (RIFF) headers — stdlib-only, no media libs
# ---------------------------------------------------------------------------

WAV_METADATA_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("valid", T.BooleanType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("bits_per_sample", T.IntegerType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("duration_ms", T.LongType()),
    ]
)


def synth_wav(
    sample_rate: int, n_channels: int, bits_per_sample: int, n_frames: int
) -> bytes:
    """Minimal valid PCM WAV (RIFF/WAVE + fmt + data) with silent
    samples — the deterministic fixture generator for the parser's
    round-trip checks (real media files aren't available here; the
    BYTES are nevertheless a fully valid WAV container)."""
    import struct

    block_align = n_channels * bits_per_sample // 8
    data_size = n_frames * block_align
    byte_rate = sample_rate * block_align
    fmt = struct.pack(
        "<4sIHHIIHH", b"fmt ", 16, 1, n_channels, sample_rate, byte_rate,
        block_align, bits_per_sample,
    )
    data = struct.pack("<4sI", b"data", data_size) + b"\x00" * data_size
    riff = struct.pack("<4sI4s", b"RIFF", 4 + len(fmt) + len(data), b"WAVE")
    return riff + fmt + data


def parse_wav_header(payload: bytes | None):
    """(valid, sample_rate, n_channels, bits, n_frames, duration_ms)
    from real RIFF bytes: chunk-walk to 'fmt ' and 'data' — the actual
    container format, parsed with ``struct`` alone. Malformed input →
    (False, None, ...) rather than an exception (a 100 TB scan must not
    die on one corrupt blob)."""
    import struct

    try:
        if payload is None or len(payload) < 12:
            return (False, None, None, None, None, None)
        if payload[0:4] != b"RIFF" or payload[8:12] != b"WAVE":
            return (False, None, None, None, None, None)
        pos, fmt_info, data_size = 12, None, None
        while pos + 8 <= len(payload):
            cid, csize = struct.unpack_from("<4sI", payload, pos)
            if cid == b"fmt " and csize >= 16:
                fmt_info = struct.unpack_from("<HHIIHH", payload, pos + 8)
            elif cid == b"data":
                data_size = csize
            pos += 8 + csize + (csize % 2)  # RIFF chunks are word-aligned
        if fmt_info is None or data_size is None:
            return (False, None, None, None, None, None)
        _fmt, channels, rate, _brate, block_align, bits = fmt_info
        if block_align == 0 or rate == 0:
            return (False, None, None, None, None, None)
        frames = data_size // block_align
        return (True, rate, channels, bits, frames, frames * 1000 // rate)
    except Exception:
        return (False, None, None, None, None, None)


def synth_wav_tone(
    sample_rate: int,
    n_channels: int,
    bits_per_sample: int,
    n_frames: int,
    k: int,
) -> bytes:
    """Valid PCM WAV whose frame ``i`` carries the deterministic
    sample ``(i·k) mod 2^bits`` (every channel alike): the non-silent
    fixture :func:`wav_energy_hash` needs (the plain :func:`synth_wav`
    is all-zero samples — a degenerate envelope). 8-bit PCM is
    unsigned, 16-bit signed little-endian, per the WAV spec."""
    import struct

    block_align = n_channels * bits_per_sample // 8
    byte_rate = sample_rate * block_align
    body = bytearray()
    for i in range(n_frames):
        if bits_per_sample == 8:
            b = bytes([(i * k) % 256]) * n_channels
        else:
            v = ((i * k) % 65536) - 32768
            b = struct.pack("<h", v) * n_channels
        body += b
    fmt = struct.pack(
        "<4sIHHIIHH", b"fmt ", 16, 1, n_channels, sample_rate, byte_rate,
        block_align, bits_per_sample,
    )
    data = struct.pack("<4sI", b"data", len(body)) + bytes(body)
    riff = struct.pack("<4sI4s", b"RIFF", 4 + len(fmt) + len(data), b"WAVE")
    return riff + fmt + data


def synth_wav_float_tone(
    sample_rate: int,
    n_frames: int,
    k: int,
    extensible: bool = False,
) -> bytes:
    """Valid IEEE-float (format 3) mono WAV whose frame ``i`` carries
    ``(((i·k) mod 2^16) − 32768) / 32768`` as an exact float32 — the
    value grid Q15 quantization recovers losslessly, so the energy
    hash of this fixture equals the 16-bit tone's arithmetic exactly
    (what the ``whash_f32`` oracle kind replays). ``extensible=True``
    wraps the same stream in a WAVE_FORMAT_EXTENSIBLE (0xFFFE) header
    whose SubFormat GUID carries the float tag — pinning the GUID
    parse path with the identical expected hash."""
    import struct

    block_align = 4
    byte_rate = sample_rate * block_align
    body = bytearray()
    for i in range(n_frames):
        body += struct.pack("<f", (((i * k) % 65536) - 32768) / 32768.0)
    if not extensible:
        fmt = struct.pack(
            "<4sIHHIIHH", b"fmt ", 16, 3, 1, sample_rate, byte_rate,
            block_align, 32,
        )
    else:
        guid = struct.pack("<H", 3) + _WAVE_EXT_GUID_SUFFIX
        ext = struct.pack("<HHI", 22, 32, 0x4) + guid  # cbSize, valid bits, mask
        fmt = struct.pack(
            "<4sIHHIIHH", b"fmt ", 16 + len(ext), 0xFFFE, 1, sample_rate,
            byte_rate, block_align, 32,
        ) + ext
    data = struct.pack("<4sI", b"data", len(body)) + bytes(body)
    riff = struct.pack("<4sI4s", b"RIFF", 4 + len(fmt) + len(data), b"WAVE")
    return riff + fmt + data


def synth_wav_stereo_tone(
    sample_rate: int,
    bits_per_sample: int,
    n_frames: int,
    k_left: int,
    k_right: int,
) -> bytes:
    """Valid 2-channel PCM WAV whose frame ``i`` carries
    ``(i·k_left) mod 2^bits`` on channel 0 and ``(i·k_right) mod
    2^bits`` on channel 1 — the stereo fixture the ``mixdown=True``
    energy-hash contract needs: :func:`synth_wav_tone` writes the SAME
    sample on every channel, under which mixdown is hash-invariant by
    construction (every window mean scales by the channel count), so
    only per-channel-distinct content makes the mixdown path
    observable."""
    import struct

    n_channels = 2
    block_align = n_channels * bits_per_sample // 8
    byte_rate = sample_rate * block_align
    body = bytearray()
    for i in range(n_frames):
        if bits_per_sample == 8:
            body += bytes([(i * k_left) % 256, (i * k_right) % 256])
        else:
            body += struct.pack(
                "<hh",
                ((i * k_left) % 65536) - 32768,
                ((i * k_right) % 65536) - 32768,
            )
    fmt = struct.pack(
        "<4sIHHIIHH", b"fmt ", 16, 1, n_channels, sample_rate, byte_rate,
        block_align, bits_per_sample,
    )
    data = struct.pack("<4sI", b"data", len(body)) + bytes(body)
    riff = struct.pack("<4sI4s", b"RIFF", 4 + len(fmt) + len(data), b"WAVE")
    return riff + fmt + data


#: the 14-byte suffix every standard WAVE_FORMAT_EXTENSIBLE SubFormat
#: GUID shares (the media-subtype namespace); the leading 2 LE bytes
#: carry the effective format tag (1 = integer PCM, 3 = IEEE float)
_WAVE_EXT_GUID_SUFFIX = (
    b"\x00\x00\x00\x00\x10\x00\x80\x00\x00\xaa\x00\x38\x9b\x71"
)


def _wav_pcm_view(payload: bytes | None):
    """(rate, channels, bits, n_frames, data_bytes, sample_fmt) — the
    PCM payload located by the same RIFF chunk walk as
    :func:`parse_wav_header`, or None for anything invalid.
    ``sample_fmt`` names how a sample's bytes decode: ``u8`` / ``s16``
    / ``s24`` (integer PCM, format 1) or ``f32`` (IEEE-float PCM,
    format 3) — round 12 widens the HASH path to the float, 24-bit and
    WAVE_FORMAT_EXTENSIBLE (0xFFFE) shapes a real crawl corpus
    contains (the r9 rejection existed because hashing their bytes AS
    ``<h`` would pair wrong files; decoding them properly removes the
    hazard instead of the files). Extensible headers must carry the
    standard SubFormat GUID (effective tag in its first two bytes) —
    a corrupted GUID is rejected, not guessed. Unsupported
    combinations still return None."""
    import struct

    try:
        if payload is None or len(payload) < 12:
            return None
        if payload[0:4] != b"RIFF" or payload[8:12] != b"WAVE":
            return None
        pos, fmt_info, fmt_raw, data_span = 12, None, b"", None
        while pos + 8 <= len(payload):
            cid, csize = struct.unpack_from("<4sI", payload, pos)
            if cid == b"fmt " and csize >= 16:
                fmt_info = struct.unpack_from("<HHIIHH", payload, pos + 8)
                fmt_raw = payload[pos + 8 : pos + 8 + csize]
            elif cid == b"data":
                data_span = (pos + 8, csize)
            pos += 8 + csize + (csize % 2)
        if fmt_info is None or data_span is None:
            return None
        fmt, channels, rate, _brate, block_align, bits = fmt_info
        if fmt == 0xFFFE:  # WAVE_FORMAT_EXTENSIBLE: tag lives in the GUID
            if len(fmt_raw) < 40:
                return None
            guid = fmt_raw[24:40]
            if guid[2:16] != _WAVE_EXT_GUID_SUFFIX:
                return None
            fmt = struct.unpack_from("<H", guid, 0)[0]
        if block_align == 0 or rate == 0:
            return None
        if fmt == 1:
            sample_fmt = {8: "u8", 16: "s16", 24: "s24"}.get(bits)
        elif fmt == 3:
            sample_fmt = "f32" if bits == 32 else None
        else:
            sample_fmt = None
        if sample_fmt is None:
            return None
        off, size = data_span
        data = payload[off : off + size]
        if len(data) != size:
            return None
        return (rate, channels, bits, size // block_align, data, sample_fmt)
    except Exception:
        return None


def wav_energy_hash(
    payload: bytes | None, n_windows: int = 64, mixdown: bool = False
):
    """Perceptual audio fingerprint (energy-envelope hash, the audio
    analog of :func:`png_average_hash`, F48): partition the samples
    into ``n_windows`` windows by the exact integer partition
    ``i·n // frames``, take each window's mean absolute amplitude
    (8-bit PCM re-biased by 128; 16-bit signed as-is), threshold
    against the mean OF THE WINDOW MEANS (strict >), pack MSB-first →
    lowercase hex (``n_windows/4`` chars). None for invalid /
    non-integer-PCM (float/extensible/24-bit) / shorter-than-
    ``n_windows`` audio.

    ``mixdown=False`` (default, the hash-covered oracle contract)
    reads the FIRST channel only; ``mixdown=True`` sums |amplitude|
    across ALL channels per frame — still integer-exact, the window
    mean just divides by ``count × channels``. Mixdown is invariant to
    adding silent channels (every window mean scales by the same
    positive factor, so the strict-> comparisons are unchanged) and,
    unlike first-channel, hears content panned away from channel 1 —
    the round-9 verdict's robustness ask #6.

    Same determinism contract as the image hash: integer-exact window
    sums, one double division per window, ordered left fold for the
    global mean — any engine repeating the arithmetic reproduces the
    bit pattern exactly, which is what lets the oracle replay it in
    closed form for the synthetic tones."""
    import numpy as np

    dec = _wav_pcm_view(payload)
    if dec is None:
        return None
    rate, channels, bits, frames, data, sample_fmt = dec
    if frames < n_windows:
        return None
    width = bits // 8
    step = channels * width
    read_channels = channels if mixdown else 1

    # Vectorized per-frame |amplitude| (optimization round 16, guide
    # §4.2: this loop unpacked one sample at a time in Python — ~16 s
    # of the media twin's per-pass Python budget). Every step below is
    # integer-exact (or, for f32, the identical float64 expression the
    # scalar path evaluated per sample), so the produced bit pattern
    # is unchanged — pinned by the whash/whash_mix/whash_f32 oracle
    # kinds and the golden tests. Offsets mirror the scalar loop
    # exactly (base i*step + c*width), NOT a contiguous reshape, so a
    # header whose block_align disagrees with channels*width reads the
    # same bytes it always did.
    if frames > 0 and (frames - 1) * step + read_channels * width > len(data):
        # header's block_align disagrees with channels×width and the
        # stride runs off the data chunk (corrupt header). The scalar
        # loop used to raise struct.error/IndexError here — a task
        # failure; per the module's corrupt→NULL contract this is now
        # an invalid payload (round 16, while vectorizing).
        return None
    u8 = np.frombuffer(data, dtype=np.uint8)
    base = np.arange(frames, dtype=np.int64) * step
    amp = np.zeros(frames, dtype=np.int64)
    for c in range(read_channels):
        coff = base + c * width
        if sample_fmt == "u8":
            amp += np.abs(u8[coff].astype(np.int64) - 128)
        elif sample_fmt == "s16":
            raw = (
                u8[coff].astype(np.uint16)
                | (u8[coff + 1].astype(np.uint16) << 8)
            ).astype(np.uint16).view(np.int16)
            amp += np.abs(raw.astype(np.int64))
        elif sample_fmt == "s24":  # 3-byte LE signed
            v = (
                u8[coff].astype(np.int64)
                | (u8[coff + 1].astype(np.int64) << 8)
                | (u8[coff + 2].astype(np.int64) << 16)
            )
            v = np.where(v >= (1 << 23), v - (1 << 24), v)
            amp += np.abs(v)
        else:  # f32 — quantize to Q15 integers (round half up),
            # exact for fixtures storing k/32768-grid values, and
            # the envelope stays integer-exact either way
            bits32 = (
                u8[coff].astype(np.uint32)
                | (u8[coff + 1].astype(np.uint32) << 8)
                | (u8[coff + 2].astype(np.uint32) << 16)
                | (u8[coff + 3].astype(np.uint32) << 24)
            )
            f = bits32.view(np.float32).astype(np.float64)
            if not np.isfinite(f).all():
                return None
            q = np.floor(f * 32768.0 + 0.5)
            if np.abs(q).max(initial=0.0) >= 9.0e18:
                # finite-but-huge floats (corrupt payloads): int64
                # would overflow where the scalar path's Python int
                # did not — replay the whole hash exactly.
                return _wav_energy_hash_scalar(
                    dec, n_windows, mixdown
                )
            amp += np.abs(q.astype(np.int64))

    # Window partition w(i) = i·n // frames, windows as reduceat
    # segments: start of window k is ceil(k·frames / n). Integer sums
    # in int64 — identical to the scalar accumulation.
    starts = -(
        (np.arange(n_windows, dtype=np.int64) * -frames) // n_windows
    )
    sums = np.add.reduceat(amp, starts)
    counts = np.diff(np.append(starts, frames))
    means = []
    total = 0.0
    for w in range(n_windows):
        m = int(sums[w]) / (int(counts[w]) * read_channels)
        means.append(m)
        total += m
    gmean = total / n_windows
    v = 0
    for m in means:
        v = (v << 1) | (1 if m > gmean else 0)
    return format(v, f"0{n_windows // 4}x")


def _wav_energy_hash_scalar(dec, n_windows: int, mixdown: bool):
    """The pre-round-16 sample-at-a-time loop, kept verbatim as the
    exact-arithmetic fallback for f32 payloads whose quantized samples
    exceed int64 (only reachable via corrupt floats; Python ints are
    arbitrary-precision where the vector path's int64 is not)."""
    import math
    import struct

    rate, channels, bits, frames, data, sample_fmt = dec
    width = bits // 8
    step = channels * width
    read_channels = channels if mixdown else 1
    sums = [0] * n_windows
    counts = [0] * n_windows
    for i in range(frames):
        w = i * n_windows // frames
        off = i * step
        amp = 0
        for c in range(read_channels):
            coff = off + c * width
            if sample_fmt == "u8":
                amp += abs(data[coff] - 128)
            elif sample_fmt == "s16":
                amp += abs(struct.unpack_from("<h", data, coff)[0])
            elif sample_fmt == "s24":  # 3-byte LE signed
                v = int.from_bytes(data[coff : coff + 3], "little")
                amp += abs(v - (1 << 24) if v >= (1 << 23) else v)
            else:
                f = struct.unpack_from("<f", data, coff)[0]
                if not math.isfinite(f):
                    return None
                amp += abs(int(math.floor(f * 32768.0 + 0.5)))
        sums[w] += amp
        counts[w] += 1
    means = []
    total = 0.0
    for w in range(n_windows):
        m = sums[w] / (counts[w] * read_channels)
        means.append(m)
        total += m
    gmean = total / n_windows
    v = 0
    for m in means:
        v = (v << 1) | (1 if m > gmean else 0)
    return format(v, f"0{n_windows // 4}x")


def wav_ahash_frame(
    df: DataFrame,
    id_col: str,
    payload_col: str,
    n_windows: int = 64,
    mixdown: bool = False,
) -> DataFrame:
    """Arrow-batched audio-fingerprint frame: ``(id, whash, whash64)``
    — hex energy hash plus (for ``n_windows=64``) the signed 64-bit
    form for :func:`~petk_spark.operators.dedup.hamming_near_dup`.
    Corrupt/non-PCM payloads yield NULLs. Row-local, zero shuffles.
    ``mixdown`` selects the all-channel energy variant (see
    :func:`wav_energy_hash`)."""

    def one(payload):
        hx = wav_energy_hash(payload, n_windows, mixdown=mixdown)
        return (hx, _hash_words(hx if n_windows == 64 else None, 1)[0])

    return _row_frame(df, id_col, payload_col, one,
                      "id long, whash string, whash64 long")


# ---------------------------------------------------------------------------
# MP3 (MPEG audio Layer III) frame-header metadata — round 13, r12
# verdict #6. Crawl audio is overwhelmingly MP3; the WAV-only audio
# surface gets the same metadata-not-full-decode policy as AVI/GIF
# animation: walk the real frame headers (sync, version, layer,
# bitrate/sample-rate indices, padding), step exact frame sizes, count
# frames, and derive the duration — no Huffman/MDCT decode (the
# documented libmad/minimp3 swap seam).
# ---------------------------------------------------------------------------

#: Layer III bitrate tables, kbps, index 1..14 (0 = "free", 15 =
#: invalid — both rejected). MPEG-2/2.5 share one table.
_MP3_BITRATES_V1 = (
    0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320,
)
_MP3_BITRATES_V2 = (
    0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160,
)
#: Sample rates by the header's 2-bit version field value
#: (0 = MPEG-2.5, 2 = MPEG-2, 3 = MPEG-1; 1 is reserved).
_MP3_RATES = {
    0: (11025, 12000, 8000),
    2: (22050, 24000, 16000),
    3: (44100, 48000, 32000),
}


def _mp3_frame_size(vbits: int, bitrate_bps: int, rate: int,
                    padding: int) -> int:
    """Whole-frame byte length (header included): Layer III is
    ``(1152/8)·bitrate/rate`` for MPEG-1 and ``(576/8)·…`` for
    MPEG-2/2.5, floored, plus the padding byte."""
    spf = 1152 if vbits == 3 else 576
    return (spf // 8) * bitrate_bps // rate + padding


def synth_mp3(
    n_frames: int,
    bitrate_kbps: int = 128,
    sample_rate: int = 44100,
    version: int = 1,
    mono: bool = False,
    id3_size: int = 0,
    id3_footer: bool = False,
    xing_frames: int | None = None,
    id3_tags: dict[str, str] | None = None,
) -> bytes:
    """Fixed-bitrate Layer III stream with genuine frame headers and
    zeroed (never-parsed) frame bodies; ``id3_size > 0`` prepends a
    real ID3v2.4 tag (syncsafe size) the parser must skip —
    ``id3_footer`` sets the v2.4 footer flag and appends the 10-byte
    footer; ``id3_tags`` (round 16) writes real text frames into the
    tag body (e.g. ``{"TIT2": title, "TPE1": artist}``, UTF-8
    encoding byte 3, remainder zero-padded — the tag grows past
    ``id3_size`` if the frames need it). ``xing_frames`` embeds a
    Xing VBR header (frames-only flag) at the spec side-info offset
    of the first frame."""
    import struct

    vbits = {1: 3, 2: 2}[version]
    table = _MP3_BITRATES_V1 if vbits == 3 else _MP3_BITRATES_V2
    bridx = table.index(bitrate_kbps)
    sridx = _MP3_RATES[vbits].index(sample_rate)
    out = bytearray()
    if id3_size > 0 or id3_tags:
        frames_blob = bytearray()
        for fid, text in (id3_tags or {}).items():
            body = b"\x03" + text.encode("utf-8")
            n = len(body)
            frames_blob += fid.encode("ascii") + bytes(
                [(n >> 21) & 0x7F, (n >> 14) & 0x7F,
                 (n >> 7) & 0x7F, n & 0x7F]
            ) + b"\x00\x00" + body
        size = max(id3_size, len(frames_blob))
        flags = 0x10 if id3_footer else 0x00
        ss = bytes(
            [(size >> 21) & 0x7F, (size >> 14) & 0x7F,
             (size >> 7) & 0x7F, size & 0x7F]
        )
        out += b"ID3\x04\x00" + bytes([flags]) + ss
        out += frames_blob + b"\x00" * (size - len(frames_blob))
        if id3_footer:
            out += b"3DI\x04\x00" + bytes([0x10]) + ss
    hdr = struct.pack(
        ">I",
        (0x7FF << 21) | (vbits << 19) | (0b01 << 17) | (1 << 16)
        | (bridx << 12) | (sridx << 10) | (0 << 9)
        | ((0b11 if mono else 0b00) << 6),
    )
    fs = _mp3_frame_size(vbits, bitrate_kbps * 1000, sample_rate, 0)
    frame = hdr + b"\x00" * (fs - 4)
    for i in range(n_frames):
        if i == 0 and xing_frames is not None:
            first = bytearray(frame)
            side = _mp3_side_info_len(vbits, mono)
            tag = b"Xing" + struct.pack(">I", 0x1) + struct.pack(
                ">I", xing_frames
            )
            if 4 + side + len(tag) > fs:
                # explicit raise, not assert: survives python -O, so an
                # undersized frame can never silently truncate the tag
                # write and desync fixture/oracle hashes (r15 ADVICE)
                raise ValueError(
                    f"frame too small for Xing tag: {fs} bytes, "
                    f"needs {4 + side + len(tag)}"
                )
            first[4 + side : 4 + side + len(tag)] = tag
            out += bytes(first)
        else:
            out += frame
    return bytes(out)


def _mp3_side_info_len(vbits: int, mono: bool) -> int:
    """Layer III side-info byte length (the Xing/Info tag offset from
    the end of the 4-byte header): MPEG-1 32/17, MPEG-2/2.5 17/9
    (stereo-class / mono)."""
    if vbits == 3:
        return 17 if mono else 32
    return 9 if mono else 17


def _id3_text_frames(payload: bytes, tag_end: int):
    """(title, artist) from an ID3v2 tag's TIT2/TPE1 text frames —
    v2.4 syncsafe and v2.3 plain frame sizes, text encodings 0–3
    (latin-1 / UTF-16 BOM / UTF-16BE / UTF-8), trailing NULs
    stripped; (None, None) when absent. A malformed frame stops the
    walk — never a task failure."""
    title = artist = None
    try:
        major = payload[3]
        pos = 10
        while pos + 10 <= tag_end:
            fid = payload[pos:pos + 4]
            if fid == b"\x00\x00\x00\x00":
                break                             # padding
            b = payload[pos + 4:pos + 8]
            if major >= 4:
                size = (
                    ((b[0] & 0x7F) << 21) | ((b[1] & 0x7F) << 14)
                    | ((b[2] & 0x7F) << 7) | (b[3] & 0x7F)
                )
            else:
                size = int.from_bytes(b, "big")
            body_at = pos + 10
            if size <= 0 or body_at + size > tag_end:
                break
            if fid in (b"TIT2", b"TPE1"):
                body = payload[body_at:body_at + size]
                enc = body[0] if body else 3
                raw = body[1:]
                codec = {0: "latin-1", 1: "utf-16", 2: "utf-16-be",
                         3: "utf-8"}.get(enc, "utf-8")
                text = raw.decode(codec, "replace").rstrip("\x00")
                if fid == b"TIT2" and title is None:
                    title = text
                elif fid == b"TPE1" and artist is None:
                    artist = text
            pos = body_at + size
    except Exception:
        pass
    return title, artist


def parse_mp3_metadata(payload: bytes | None) -> dict | None:
    """Frame-header walk: skip an ID3v2 tag, then parse consecutive
    Layer III headers, stepping each frame's exact byte length —
    stop-at-last-whole-frame (the WARC corruption contract), so a
    truncated tail shortens the duration instead of failing. Returns
    ``{version, layer, bitrate_kbps (first frame), is_cbr,
    sample_rate, n_channels, n_frames, duration_ms}`` or ``None``
    when no valid first frame exists."""
    if payload is None or len(payload) < 4:
        return None
    pos = 0
    title = artist = None
    if payload[0:3] == b"ID3" and len(payload) >= 10:
        sz = (
            ((payload[6] & 0x7F) << 21) | ((payload[7] & 0x7F) << 14)
            | ((payload[8] & 0x7F) << 7) | (payload[9] & 0x7F)
        )
        pos = 10 + sz
        title, artist = _id3_text_frames(
            payload, min(pos, len(payload))
        )
        if payload[5] & 0x10:                  # ID3v2.4 footer present
            pos += 10
    first = None
    n_frames = 0
    total_samples = 0
    cbr = True
    xing_frames = None
    while pos + 4 <= len(payload):
        h = payload[pos : pos + 4]
        if h[0] != 0xFF or (h[1] & 0xE0) != 0xE0:
            break
        vbits = (h[1] >> 3) & 0x3
        lbits = (h[1] >> 1) & 0x3
        if vbits == 1 or lbits != 0b01:       # reserved / not Layer III
            break
        bridx = (h[2] >> 4) & 0xF
        sridx = (h[2] >> 2) & 0x3
        padding = (h[2] >> 1) & 0x1
        mode = (h[3] >> 6) & 0x3
        if bridx in (0, 15) or sridx == 3:
            break
        rate = _MP3_RATES[vbits][sridx]
        table = _MP3_BITRATES_V1 if vbits == 3 else _MP3_BITRATES_V2
        br = table[bridx] * 1000
        fs = _mp3_frame_size(vbits, br, rate, padding)
        if fs <= 4 or pos + fs > len(payload):
            break                              # stop at last whole frame
        if first is None:
            first = (vbits, rate, br, 1 if mode == 0b11 else 2)
            # Xing/Info VBR header in the first frame at the side-info
            # offset: declared whole-file frame count — the crawl
            # cross-check against the walked (possibly truncated) one
            side = _mp3_side_info_len(vbits, mode == 0b11)
            tp = pos + 4 + side
            if (
                tp + 8 <= pos + fs
                and payload[tp : tp + 4] in (b"Xing", b"Info")
            ):
                flags = int.from_bytes(payload[tp + 4 : tp + 8], "big")
                if flags & 0x1 and tp + 12 <= pos + fs:
                    xing_frames = int.from_bytes(
                        payload[tp + 8 : tp + 12], "big"
                    )
        elif br != first[2]:
            cbr = False
        n_frames += 1
        total_samples += 1152 if vbits == 3 else 576
        pos += fs
    if first is None or n_frames == 0:
        return None
    vbits, rate, br, ch = first
    return {
        "version": {0: "2.5", 2: "2", 3: "1"}[vbits],
        "layer": 3,
        "bitrate_kbps": br // 1000,
        "is_cbr": cbr,
        "sample_rate": rate,
        "n_channels": ch,
        "n_frames": n_frames,
        "duration_ms": total_samples * 1000 // rate,
        "xing_frames": xing_frames,
        "declared_duration_ms": (
            None if xing_frames is None
            else xing_frames * (1152 if vbits == 3 else 576) * 1000
            // rate
        ),
        "title": title,
        "artist": artist,
    }


MP3_FEATURES_SCHEMA = (
    "id long, valid boolean, version string, bitrate_kbps int, "
    "is_cbr boolean, sample_rate int, n_channels int, n_frames int, "
    "duration_ms long, xing_frames int, declared_duration_ms long, "
    "title string, artist string"
)
_mp3_row = _meta_adapter(parse_mp3_metadata, MP3_FEATURES_SCHEMA)


def mp3_features_frame(
    df: DataFrame, id_col: str, payload_col: str
) -> DataFrame:
    """Arrow-batched MP3 metadata extraction — the WAV sibling for the
    dominant crawl audio format: row-local, zero shuffles, corrupt
    payloads → valid=false rows."""
    return _row_frame(df, id_col, payload_col, _mp3_row,
                      MP3_FEATURES_SCHEMA)


# ---------------------------------------------------------------------------
# ADTS AAC metadata — round 16 (r15 verdict #6): the last common
# crawl-audio shape with no route (bare .aac streams and the payload
# of many MP4-less broadcast rips). Same frame-header-walk policy as
# MP3: exact frame_length stepping, stop-at-last-whole-frame.
# ---------------------------------------------------------------------------

#: ISO/IEC 14496-3 sampling_frequency_index table (13 entries; 13–15
#: are reserved/escape and reject).
_ADTS_RATES = (
    96000, 88200, 64000, 48000, 44100, 32000, 24000, 22050,
    16000, 12000, 11025, 8000, 7350,
)


def synth_adts(
    n_frames: int,
    sample_rate: int,
    n_channels: int,
    payload_bytes: int = 13,
) -> bytes:
    """Bare ADTS AAC stream: ``n_frames`` genuine 7-byte headers
    (MPEG-4, AAC-LC profile, protection_absent=1, buffer fullness
    0x7FF) each followed by ``payload_bytes`` of stub raw-data-block
    bytes — every field the parser reads is an argument, so the
    registry oracle replays them closed-form."""
    sridx = _ADTS_RATES.index(sample_rate)
    flen = 7 + payload_bytes
    out = bytearray()
    for i in range(n_frames):
        h = bytearray(7)
        h[0] = 0xFF
        h[1] = 0xF1                # MPEG-4, layer 00, protection_absent
        h[2] = (1 << 6) | (sridx << 2) | ((n_channels >> 2) & 1)
        h[3] = ((n_channels & 3) << 6) | ((flen >> 11) & 0x3)
        h[4] = (flen >> 3) & 0xFF
        h[5] = ((flen & 0x7) << 5) | 0x1F
        h[6] = 0xFC
        out += h + bytes((i + j) & 0xFF for j in range(payload_bytes))
    return bytes(out)


def parse_adts_metadata(payload: bytes | None) -> dict | None:
    """ADTS frame-header walk (the MP3 discipline): consecutive
    syncword/layer-00 headers stepped by their 13-bit frame_length,
    stop-at-last-whole-frame so truncation shortens the duration
    instead of failing. 1024 samples per AAC frame. Returns
    ``{sample_rate, n_channels, n_frames, duration_ms}`` or None when
    no whole first frame exists."""
    if payload is None or len(payload) < 7:
        return None
    p = bytes(payload)
    pos = 0
    first = None
    n_frames = 0
    while pos + 7 <= len(p):
        if p[pos] != 0xFF or (p[pos + 1] & 0xF6) != 0xF0:
            break
        sridx = (p[pos + 2] >> 2) & 0xF
        if sridx >= len(_ADTS_RATES):
            break
        ch = ((p[pos + 2] & 1) << 2) | ((p[pos + 3] >> 6) & 0x3)
        flen = (
            ((p[pos + 3] & 0x3) << 11) | (p[pos + 4] << 3)
            | ((p[pos + 5] >> 5) & 0x7)
        )
        if flen < 7 or pos + flen > len(p):
            break                              # stop at last whole frame
        if first is None:
            first = (_ADTS_RATES[sridx], ch if ch else None)
        n_frames += 1
        pos += flen
    if first is None:
        return None
    rate, ch = first
    return {
        "sample_rate": rate,
        "n_channels": ch,
        "n_frames": n_frames,
        "duration_ms": n_frames * 1024 * 1000 // rate,
    }


ADTS_FEATURES_SCHEMA = (
    "id long, valid boolean, sample_rate int, n_channels int, "
    "n_frames int, duration_ms long"
)
_adts_row = _meta_adapter(parse_adts_metadata, ADTS_FEATURES_SCHEMA)


def adts_features_frame(
    df: DataFrame, id_col: str, payload_col: str
) -> DataFrame:
    """Arrow-batched ADTS AAC metadata extraction — the MP3 sibling:
    row-local, zero shuffles, corrupt payloads → valid=false rows."""
    return _row_frame(df, id_col, payload_col, _adts_row,
                      ADTS_FEATURES_SCHEMA)


# ---------------------------------------------------------------------------
# FLAC STREAMINFO metadata — round 13 (with MP3 this closes the audio
# container surface: WAV lossless-raw, MP3 lossy, FLAC lossless-coded).
# Same metadata-not-full-decode policy; the subframe/residual decode is
# the documented libFLAC swap seam.
# ---------------------------------------------------------------------------

def synth_flac(
    sample_rate: int,
    n_channels: int,
    bits_per_sample: int,
    total_samples: int,
    with_padding: bool = False,
) -> bytes:
    """Minimal valid FLAC file head: ``fLaC`` magic + a genuine
    STREAMINFO block (the spec's required first block), optionally
    followed by a PADDING block the walker must step over. Audio
    frames omitted — the metadata policy never reads them."""
    body = bytearray()
    body += (4096).to_bytes(2, "big")            # min blocksize
    body += (4096).to_bytes(2, "big")            # max blocksize
    body += (0).to_bytes(3, "big")               # min framesize (unknown)
    body += (0).to_bytes(3, "big")               # max framesize
    packed = (
        (sample_rate << 44)
        | ((n_channels - 1) << 41)
        | ((bits_per_sample - 1) << 36)
        | (total_samples & ((1 << 36) - 1))
    )
    body += packed.to_bytes(8, "big")
    body += b"\x00" * 16                         # unset MD5
    out = bytearray(b"fLaC")
    last = 0x00 if with_padding else 0x80
    out += bytes([last | 0x00]) + len(body).to_bytes(3, "big") + body
    if with_padding:
        out += bytes([0x80 | 0x01]) + (8).to_bytes(3, "big") + b"\x00" * 8
    return bytes(out)


def parse_flac_metadata(payload: bytes | None) -> dict | None:
    """Metadata-block walk to STREAMINFO: ``{sample_rate, n_channels,
    bits_per_sample, n_frames (total samples), duration_ms}`` or
    ``None`` for anything not a well-formed FLAC head (bad magic,
    truncated block, STREAMINFO missing/short, zero sample rate)."""
    if payload is None or len(payload) < 8 or payload[0:4] != b"fLaC":
        return None
    pos = 4
    while pos + 4 <= len(payload):
        hdr = payload[pos]
        btype = hdr & 0x7F
        blen = int.from_bytes(payload[pos + 1 : pos + 4], "big")
        body = payload[pos + 4 : pos + 4 + blen]
        if len(body) < blen:
            return None                          # truncated block
        if btype == 0:                           # STREAMINFO
            if blen < 34:
                return None
            packed = int.from_bytes(body[10:18], "big")
            rate = (packed >> 44) & ((1 << 20) - 1)
            channels = ((packed >> 41) & 0x7) + 1
            bps = ((packed >> 36) & 0x1F) + 1
            total = packed & ((1 << 36) - 1)
            if rate == 0:
                return None
            return {
                "sample_rate": rate,
                "n_channels": channels,
                "bits_per_sample": bps,
                "n_frames": total,
                "duration_ms": total * 1000 // rate,
            }
        if hdr & 0x80:                           # last block, no STREAMINFO
            return None
        pos += 4 + blen
    return None


_flac_row = _meta_adapter(parse_flac_metadata, WAV_METADATA_SCHEMA)


def flac_features_frame(
    df: DataFrame, id_col: str, payload_col: str
) -> DataFrame:
    """Arrow-batched FLAC STREAMINFO extraction — the WAV/MP3 sibling:
    row-local, zero shuffles, corrupt payloads → valid=false rows.
    Reuses the WAV metadata schema (same columns, same meanings)."""
    return _row_frame(df, id_col, payload_col, _flac_row,
                      WAV_METADATA_SCHEMA)


def wav_metadata_frame(
    df: DataFrame, id_col: str, payload_col: str
) -> DataFrame:
    """Arrow-batched REAL WAV metadata decode over a binary column —
    unlike the image/video feature extractors below, nothing here is
    stubbed: the parser reads genuine RIFF container bytes. Row-local
    (bounded batches, no shuffle)."""
    return _row_frame(df, id_col, payload_col, parse_wav_header,
                      WAV_METADATA_SCHEMA)


# ---------------------------------------------------------------------------
# REAL image decode: PNG — stdlib-only (zlib inflate + all 5 scanline
# unfilters), same pattern as the WAV parser above. No media library.
# ---------------------------------------------------------------------------

PNG_SIGNATURE = b"\x89PNG\r\n\x1a\n"

PNG_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("valid", T.BooleanType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("bit_depth", T.IntegerType()),
        T.StructField("mean_luma", T.DoubleType()),
    ]
)


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def _filter_rows(rows: list[bytes], bpp: int) -> bytearray:
    """PNG-filter a list of raw scanlines (filter type ``r % 5`` per
    row, so every unfilter path is exercised); rows must share one
    stride. Shared by the linear and per-Adam7-pass encoders."""
    stride = len(rows[0]) if rows else 0
    raw = bytearray()
    prev = bytes(stride)
    for r, row in enumerate(rows):
        ftype = r % 5
        filt = bytearray(stride)
        for i in range(stride):
            x = row[i]
            a = row[i - bpp] if i >= bpp else 0  # left
            b = prev[i]  # up
            c = prev[i - bpp] if i >= bpp else 0  # up-left
            if ftype == 0:
                filt[i] = x
            elif ftype == 1:
                filt[i] = (x - a) & 0xFF
            elif ftype == 2:
                filt[i] = (x - b) & 0xFF
            elif ftype == 3:
                filt[i] = (x - (a + b) // 2) & 0xFF
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                filt[i] = (x - pred) & 0xFF
        raw.append(ftype)
        raw += filt
        prev = bytes(row)
    return raw


def synth_png(
    width: int, height: int, base: int, color_type: int,
    interlace: bool = False,
) -> bytes:
    """Minimal but fully valid 8-bit PNG (grayscale color_type=0 or RGB
    color_type=2): row ``r`` is the constant sample ``base + r``, and each
    scanline is encoded with filter type ``r % 5`` — so decoding exercises
    every unfilter path (None/Sub/Up/Average/Paeth), not just the trivial
    one. ``interlace=True`` (round 12) writes the SAME pixels in Adam7
    order — seven independently filtered sub-images — so the interlaced
    decode path is pinned against identical expected pixels (and the
    same closed-form mean). Deterministic fixture generator; the bytes
    are a real PNG any viewer opens."""
    import struct
    import zlib

    bpp = 1 if color_type == 0 else 3
    rows = [
        bytes([(base + r) & 0xFF]) * (width * bpp) for r in range(height)
    ]
    if not interlace:
        raw = _filter_rows(rows, bpp)
    else:
        raw = bytearray()
        for x0, y0, dx, dy in _ADAM7:
            pw = (width - x0 + dx - 1) // dx
            ph = (height - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            prows = [
                bytes(
                    b
                    for k in range(pw)
                    for b in rows[y0 + j * dy][
                        (x0 + k * dx) * bpp : (x0 + k * dx + 1) * bpp
                    ]
                )
                for j in range(ph)
            ]
            raw += _filter_rows(prows, bpp)
    ihdr = struct.pack(
        ">IIBBBBB", width, height, 8, color_type, 0, 0, 1 if interlace else 0
    )
    return (
        PNG_SIGNATURE
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )


#: Adam7 interlace pass layout: (x_start, y_start, x_step, y_step) —
#: PNG spec §8.2; every interlaced PNG stores seven independently
#: filtered sub-images in this order.
_ADAM7 = [
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
]


def _unfilter(raw, height: int, stride: int, bpp: int):
    """Undo PNG scanline filtering over one filtered segment (the whole
    image when non-interlaced, one Adam7 pass when interlaced — each
    pass filters independently with a zero previous row, PNG spec
    §8.2). Returns the list of unfiltered row bytearrays, or None on an
    unknown filter type."""
    import numpy as np

    rows = []
    prev = bytes(stride)
    for r in range(height):
        off = r * (stride + 1)
        ftype = raw[off]
        line = bytearray(raw[off + 1 : off + 1 + stride])
        if ftype == 1:
            # Sub: per byte lane l (i ≡ l mod bpp) the decode chain is
            # a running sum mod 256 — for wide rows, vectorized as an
            # int cumsum per lane (round 16, guide §4.2), bit-identical
            # to the sequential (x + left) & 0xFF walk; below ~256
            # bytes the numpy fixed cost exceeds the loop (measured on
            # the 16-48 px twin fixtures), so small rows keep the
            # scalar walk.
            if stride >= 256:
                arr = np.frombuffer(
                    bytes(line), dtype=np.uint8
                ).astype(np.int64)
                for lane in range(bpp):
                    line[lane::bpp] = (
                        np.cumsum(arr[lane::bpp]) & 0xFF
                    ).astype(np.uint8).tobytes()
            else:
                for i in range(bpp, stride):
                    line[i] = (line[i] + line[i - bpp]) & 0xFF
        elif ftype == 2:
            # Up: element-wise, no intra-row dependency.
            if stride >= 256:
                arr = np.frombuffer(
                    bytes(line), dtype=np.uint8
                ).astype(np.int64)
                pv = np.frombuffer(prev, dtype=np.uint8).astype(np.int64)
                line[:] = ((arr + pv) & 0xFF).astype(np.uint8).tobytes()
            else:
                for i in range(stride):
                    line[i] = (line[i] + prev[i]) & 0xFF
        elif ftype == 3:
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + (a + prev[i]) // 2) & 0xFF
        elif ftype == 4:
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                line[i] = (
                    line[i]
                    + (a if (pa <= pb and pa <= pc) else (b if pb <= pc else c))
                ) & 0xFF
        elif ftype != 0:
            return None
        rows.append(line)
        prev = bytes(line)
    return rows


def _png_decode_rows(payload: bytes | None):
    """(width, height, n_channels, rows) with ``rows`` the fully
    unfiltered scanlines (list of bytearrays, ``width × n_channels``
    bytes each), or None for anything invalid/corrupt — the shared
    decode core of :func:`parse_png` (metadata + mean) and
    :func:`png_average_hash` (perceptual hash). Round 12: Adam7
    interlaced PNGs (interlace=1) decode too — seven independently
    filtered sub-images de-interlaced into the final grid — closing
    the same real-world-corpus gap for PNG that progressive decode
    closed for JPEG."""
    import struct
    import zlib

    try:
        if payload is None or len(payload) < 8 or payload[:8] != PNG_SIGNATURE:
            return None
        pos, ihdr, idat = 8, None, bytearray()
        while pos + 12 <= len(payload):
            (clen,) = struct.unpack_from(">I", payload, pos)
            ctype = payload[pos + 4 : pos + 8]
            data = payload[pos + 8 : pos + 8 + clen]
            if len(data) != clen:
                return None
            (crc,) = struct.unpack_from(">I", payload, pos + 8 + clen)
            if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
                return None
            if ctype == b"IHDR":
                ihdr = struct.unpack(">IIBBBBB", data)
            elif ctype == b"IDAT":
                idat += data
            elif ctype == b"IEND":
                break
            pos += 12 + clen
        if ihdr is None or not idat:
            return None
        width, height, depth, color_type, _comp, _filt, interlace = ihdr
        channels = {0: 1, 2: 3, 4: 2, 6: 4}.get(color_type)
        if channels is None or depth != 8 or interlace not in (0, 1) or width == 0:
            return None
        raw = zlib.decompress(bytes(idat))
        bpp = channels
        stride = width * bpp
        if interlace == 0:
            if len(raw) != height * (stride + 1):
                return None
            rows = _unfilter(raw, height, stride, bpp)
            if rows is None:
                return None
            return (width, height, channels, rows)
        # Adam7: seven sub-images, each filtered independently; empty
        # passes (a dimension rounds to zero) occupy no bytes at all
        rows = [bytearray(stride) for _ in range(height)]
        off = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (width - x0 + dx - 1) // dx
            ph = (height - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            pstride = pw * bpp
            need = ph * (pstride + 1)
            seg = raw[off : off + need]
            if len(seg) != need:
                return None
            off += need
            prows = _unfilter(seg, ph, pstride, bpp)
            if prows is None:
                return None
            for j, prow in enumerate(prows):
                row = rows[y0 + j * dy]
                for k in range(pw):
                    x = x0 + k * dx
                    row[x * bpp : (x + 1) * bpp] = prow[
                        k * bpp : (k + 1) * bpp
                    ]
        if off != len(raw):
            return None  # trailing garbage / short stream
        return (width, height, channels, rows)
    except Exception:
        return None


def parse_png(payload: bytes | None):
    """(valid, width, height, n_channels, bit_depth, mean_luma) decoded
    from real PNG bytes: chunk walk with CRC verification, zlib inflate
    of the concatenated IDAT stream, and full scanline unfiltering
    (all 5 filter types — :func:`_png_decode_rows`). Supports the
    non-palette 8-bit color types (gray=0, RGB=2, gray+alpha=4,
    RGBA=6); anything else — or any corruption — yields
    (False, None, ...) instead of an exception."""
    dec = _png_decode_rows(payload)
    if dec is None:
        return (False, None, None, None, None, None)
    width, height, channels, rows = dec
    total = 0
    for line in rows:
        total += sum(line)
    mean = float(total) / (height * width * channels)
    return (True, width, height, channels, 8, mean)


def png_average_hash(payload: bytes | None, hash_size: int = 8):
    """Perceptual average-hash of a PNG (aHash): decode via
    :func:`_png_decode_rows`, block-mean downsample the ALPHA-FREE
    luma plane to ``hash_size²`` cells (row/col cell of pixel (r,c) is
    ``r·hs // h`` / ``c·hs // w`` — the exact integer partition, no
    resampling filter, so the hash is a closed-form function of the
    pixels and replayable by the oracle), threshold each cell against
    the mean OF THE CELL MEANS (strict >), and pack row-major,
    MSB-first. Returns the lowercase hex string (``hs²/4`` chars), or
    None for corrupt/undecodable/too-small (< hs in either dimension)
    images.

    Determinism contract (what makes the driver hash possible): every
    cell sum is integer-exact, each cell mean is ONE double division
    of those integers, and the global mean is a left fold over the
    cell means in row-major order — so any engine repeating this
    exact arithmetic produces the identical bit pattern, ties
    included. Luma = channel mean with alpha excluded (gray uses the
    gray byte; RGB averages R,G,B)."""
    dec = _png_decode_rows(payload)
    if dec is None:
        return None
    w, h, nc, rows = dec
    hs = hash_size
    if w < hs or h < hs:
        return None
    gray_nc = 1 if nc in (1, 2) else 3
    # Vectorized cell sums (round 16, guide §4.2 — this was a
    # per-pixel Python loop): the exact integer partition r·hs//h maps
    # rows [ceil(k·h/hs), ceil((k+1)·h/hs)) to cell-row k, so the cell
    # sums are two nested reduceats over the int64 luma-sum plane —
    # the same arithmetic, integer-exact.
    import numpy as np

    arr = np.frombuffer(
        b"".join(bytes(r) for r in rows), dtype=np.uint8
    ).reshape(h, w, nc).astype(np.int64)
    lum = arr[:, :, :gray_nc].sum(axis=2)
    rs = [-((-k * h) // hs) for k in range(hs)]
    cs = [-((-k * w) // hs) for k in range(hs)]
    S = np.add.reduceat(np.add.reduceat(lum, rs, axis=0), cs, axis=1)
    C = np.outer(
        np.diff(rs + [h]), np.diff(cs + [w])
    ) * gray_nc
    means = []
    total = 0.0
    for a in range(hs):
        for b in range(hs):
            m = int(S[a, b]) / int(C[a, b])
            means.append(m)
            total += m
    gmean = total / (hs * hs)
    v = 0
    for m in means:
        v = (v << 1) | (1 if m > gmean else 0)
    return format(v, f"0{hs * hs // 4}x")


def png_ahash_frame(
    df: DataFrame,
    id_col: str,
    payload_col: str,
    hash_size: int = 8,
) -> DataFrame:
    """Arrow-batched perceptual-hash frame over a binary PNG column:
    ``(id, ahash, ahash64)`` — the hex hash plus (for ``hash_size=8``)
    the same bits as a SIGNED 64-bit value ready for
    :func:`~petk_spark.operators.dedup.hamming_near_dup`'s XOR/popcount
    blocking. Corrupt or undecodable payloads yield NULLs, never task
    failures. Row-local, zero shuffles — pure scan work
    at 100 TB, the same shape as every decode kernel here."""

    def one(payload):
        hx = png_average_hash(payload, hash_size)
        return (hx, _hash_words(hx if hash_size == 8 else None, 1)[0])

    return _row_frame(df, id_col, payload_col, one,
                      "id long, ahash string, ahash64 long")


def png_features_frame(df: DataFrame, id_col: str, payload_col: str) -> DataFrame:
    """Arrow-batched REAL PNG feature decode over a binary column — the
    pixel decode is a genuine inflate + unfilter, not the stub below.
    Row-local (bounded batches, no shuffle); corrupt blobs yield
    valid=false rows instead of failing the scan."""
    return _row_frame(df, id_col, payload_col, parse_png,
                      PNG_FEATURES_SCHEMA)


# ---------------------------------------------------------------------------
# Format-generic image decode plumbing (Arrow-batched; REAL since r10)
# ---------------------------------------------------------------------------

IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("mean_luma", T.DoubleType()),
    ]
)

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def _decode_image(payload: bytes) -> tuple[int, int, int, float]:
    """REAL format-dispatched decode: PNG via the in-repo
    inflate+unfilter decoder, baseline JPEG via the in-repo T.81
    decoder (``operators/jpeg.py`` — the round-10 close of what used
    to be a deterministic-fake seam here). Returns
    ``(width, height, n_channels, mean_luma)``; anything that is
    neither format, or fails to decode, raises ``NotImplementedError``
    (callers map that to a NULL row, never a task failure)."""
    if payload is None:
        raise NotImplementedError("NULL payload")
    if payload[:8] == _PNG_MAGIC:
        dec = _png_decode_rows(payload)
        if dec is None:
            raise NotImplementedError("corrupt PNG")
        w, h, nc, rows = dec
        total = 0
        for line in rows:
            total += sum(line)
        return (w, h, nc, float(total) / (h * w * nc))
    if payload[:2] == b"\xff\xd8":
        from petk_spark.operators.jpeg import decode_jpeg

        dec = decode_jpeg(payload)
        if dec is None:
            raise NotImplementedError("corrupt/unsupported JPEG")
        w, h, nc, px = dec
        return (w, h, nc, float(px.mean()))
    if payload[:4] == b"GIF8":
        from petk_spark.operators.gif import decode_gif, gif_mean_luma

        dec = decode_gif(payload)
        if dec is None:
            raise NotImplementedError("corrupt/unsupported GIF")
        return (dec[0], dec[1], 3, gif_mean_luma(dec))
    if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        # Round 13 second half: LOSSLESS (VP8L) files decode for real
        # (operators/vp8l.py — prefix codes, LZ77, cache, transforms);
        # lossy VP8 stays metadata-only (the documented libwebp swap
        # seam — a full VP8 inter/intra predictor + bool-coder is a
        # video codec, not a header walk).
        from petk_spark.operators.vp8l import decode_webp as _dw

        dec = _dw(payload)
        if dec is not None:
            w, h, alpha_used, px = dec
            nc = 4 if alpha_used else 3
            return (w, h, nc, float(px[:, :, :nc].mean()))
        raise NotImplementedError(
            "WebP: lossy/corrupt — metadata-only"
            " (webp.parse_webp_metadata); VP8 pixel decode not"
            " implemented"
        )
    raise NotImplementedError(
        "unsupported image format (PNG, baseline JPEG, GIF implemented;"
        " WebP metadata-only)"
    )


def decode_image_features(
    df: DataFrame, id_col: str, payload_col: str
) -> DataFrame:
    """Arrow-batched per-item image feature extraction — REAL decode (PNG + baseline/progressive JPEG + GIF), undecodable rows → all-NULL
    features, never task failures.

    The iterator-of-batches shape keeps memory bounded regardless of
    partition size; partitioning is inherited from the source (no
    shuffle)."""

    def one(payload):
        try:
            return _decode_image(payload)
        except NotImplementedError:
            return (None, None, None, None)

    return _row_frame(df, id_col, payload_col, one, IMAGE_FEATURES_SCHEMA)


def jpeg_features_frame(df: DataFrame, id_col: str, payload_col: str) -> DataFrame:
    """Arrow-batched REAL baseline-JPEG feature decode — the JPEG twin
    of :func:`png_features_frame` (same output schema), backed by the
    in-repo T.81 decoder (``operators/jpeg.py``). Corrupt / truncated /
    progressive payloads yield valid=false rows instead of failing the
    scan. Row-local, zero shuffles."""
    from petk_spark.operators.jpeg import parse_jpeg

    return _row_frame(df, id_col, payload_col, parse_jpeg,
                      PNG_FEATURES_SCHEMA)


GIF_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("valid", T.BooleanType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("bit_depth", T.IntegerType()),
        T.StructField("mean_luma", T.DoubleType()),
    ]
)


def gif_features_frame(df: DataFrame, id_col: str, payload_col: str) -> DataFrame:
    """Arrow-batched REAL GIF feature decode (``operators/gif.py``:
    LZW + color tables + 4-pass interlace) — the GIF sibling of
    :func:`png_features_frame`, plus the format's own ``n_frames``
    (animation frame COUNT; pixels come from the first frame — the
    metadata-profiling policy shared with the AVI sampler). Corrupt
    payloads yield valid=false rows, never task failures. Row-local,
    zero shuffles."""
    return _row_frame(df, id_col, payload_col, _gif_row,
                      GIF_FEATURES_SCHEMA)


def _gif_row(payload):
    """GIF_FEATURES_SCHEMA row (after id) of one payload."""
    from petk_spark.operators.gif import decode_gif, gif_mean_luma

    dec = decode_gif(payload)
    if dec is None:
        return (False, None, None, None, None, None, None)
    w, h, nf, _il, _idx, _pal = dec
    return (True, w, h, nf, 3, 8, gif_mean_luma(dec))


def image_average_hash(payload: bytes | None, hash_size: int = 8):
    """Format-generic perceptual average-hash: PNG payloads go through
    :func:`png_average_hash` unchanged; baseline-JPEG payloads decode
    via ``operators/jpeg.py`` and then run the IDENTICAL cell
    arithmetic (exact integer cell sums over the alpha-free luma — for
    JPEG that is gray or R+G+B — one double division per cell, ordered
    left fold for the global mean, strict >, MSB-first pack), so the
    hash of pixel-identical content is format-invariant whenever both
    codecs are lossless for it. None for anything else/corrupt/too
    small."""
    if payload is None:
        return None
    if payload[:8] == _PNG_MAGIC:
        return png_average_hash(payload, hash_size)
    if payload[:2] != b"\xff\xd8":
        return None
    import numpy as np

    from petk_spark.operators.jpeg import decode_jpeg

    dec = decode_jpeg(payload)
    if dec is None:
        return None
    w, h, nc, px = dec
    hs = hash_size
    if w < hs or h < hs:
        return None
    lum = px.astype(np.int64).sum(axis=2)  # nc ∈ {1,3}: all channels
    rstarts = [(a * h + hs - 1) // hs for a in range(hs)]
    cstarts = [(b * w + hs - 1) // hs for b in range(hs)]
    cells = np.add.reduceat(np.add.reduceat(lum, rstarts, axis=0), cstarts, axis=1)
    rcounts = np.diff(rstarts + [h])
    ccounts = np.diff(cstarts + [w])
    counts = np.outer(rcounts, ccounts) * nc
    means = []
    total = 0.0
    for a in range(hs):
        for b in range(hs):
            m = int(cells[a, b]) / int(counts[a, b])
            means.append(m)
            total += m
    gmean = total / (hs * hs)
    v = 0
    for m in means:
        v = (v << 1) | (1 if m > gmean else 0)
    return format(v, f"0{hs * hs // 4}x")


#: scale of the integer DCT weights (2^14) — see _phash_weight_rows
PHASH_WEIGHT_SCALE = 16384


def _phash_weight_rows(n: int, n_freq: int = 8) -> list[list[int]]:
    """Integer DCT-II weight table ``W[u][x] = round(cos((2x+1)·u·π /
    (2n)) · 2^14)`` for the ``n_freq`` lowest frequencies ``u`` over
    ``n`` sample positions ``x`` — pure Python (``math.cos`` +
    ``round``) so the oracle builder can inline the IDENTICAL literals
    into SQL. Quantizing the cosines to integers is what makes the
    whole pHash bit-exact across engines and platforms (float DCTs
    differ in the last ulp with summation order — the same reason
    H.264/HEVC define integer transforms instead of ideal-cosine
    ones). ``n_freq=16`` feeds the 128-bit variant's 16-row frequency
    block (round 12).

    Optimization round 16 (guide §4.5): the table is a pure function
    of ``(n, n_freq)`` but was recomputed TWICE PER ROW inside
    :func:`image_phash` — ~13 s of the media twin's Python budget per
    bench pass at sf0.1. The values are cached (and the int64 matrix
    form separately, below); a fresh list copy is returned so callers
    can't corrupt the cache."""
    import math

    key = (n, n_freq)
    hit = _PHASH_W_LISTS.get(key)
    if hit is None:
        hit = _PHASH_W_LISTS[key] = [
            [
                int(round(math.cos((2 * x + 1) * u * math.pi / (2 * n))
                          * PHASH_WEIGHT_SCALE))
                for x in range(n)
            ]
            for u in range(n_freq)
        ]
    return [list(r) for r in hit]


_PHASH_W_LISTS: dict = {}
_PHASH_W_MATS: dict = {}


def _phash_weight_mat(n: int, n_freq: int = 8):
    """The same table as an int64 ndarray, cached — the per-row form
    :func:`image_phash` multiplies with (do not mutate)."""
    import numpy as np

    key = (n, n_freq)
    hit = _PHASH_W_MATS.get(key)
    if hit is None:
        hit = _PHASH_W_MATS[key] = np.array(
            _phash_weight_rows(n, n_freq), dtype=np.int64
        )
    return hit


def _luma_plane(payload: bytes | None):
    """int64 alpha-free luma-SUM plane (H×W) decoded from PNG or
    baseline-JPEG bytes (gray: the gray byte; RGB: R+G+B — a uniform
    ×3 that cancels in every mean/threshold comparison downstream), or
    None for anything else/corrupt."""
    import numpy as np

    if payload is None:
        return None
    if payload[:8] == _PNG_MAGIC:
        dec = _png_decode_rows(payload)
        if dec is None:
            return None
        w, h, nc, rows = dec
        arr = np.frombuffer(b"".join(bytes(r) for r in rows), dtype=np.uint8)
        arr = arr.reshape(h, w, nc).astype(np.int64)
        gray_nc = 1 if nc in (1, 2) else 3
        return arr[:, :, :gray_nc].sum(axis=2)
    if payload[:2] == b"\xff\xd8":
        from petk_spark.operators.jpeg import decode_jpeg

        dec = decode_jpeg(payload)
        if dec is None:
            return None
        w, h, nc, px = dec
        return px.astype(np.int64).sum(axis=2)
    return None


def image_phash(payload: bytes | None, dct_size: int = 32, bits: int = 64):
    """Perceptual DCT hash (pHash) of a PNG or baseline-JPEG payload —
    the frequency-domain sibling of :func:`image_average_hash` and the
    named remedy for the Hamming engine's distinct-signature ceiling
    (aHash collapses smooth images to few distinct values; pHash's 64
    frequency comparisons spread them). Pipeline:

    1. exact-partition downsample of the alpha-free luma plane to
       ``dct_size²`` cells (the aHash cell convention), each cell an
       integer ROUND-HALF-UP mean ``(2·S + C) // (2·C)``;
    2. 2-D DCT restricted to the lowest frequencies — an 8×8 block at
       ``bits=64``, a 16×8 block at ``bits=128`` (round 12: the wider
       form SCALE.md names as the distinct-signature-saturation remedy;
       16 row frequencies × 8 column frequencies) — computed with the
       INTEGER weight table of :func:`_phash_weight_rows`; every
       coefficient is an exact int64 (|coef| ≤ 765·2^28·dct_size² —
       bounded by ~2.1e14 at dct_size 32);
    3. threshold each coefficient (DC included, as in classic pHash)
       strictly above the median — the ``bits/2``-th-smallest
       coefficient;
    4. pack row-major in (u, v), MSB-first → ``bits/4`` hex chars.

    Every step is integer-exact, so the bit pattern is replayable by
    any engine repeating the arithmetic — no float DCT, no resampling
    filter. Returns None for corrupt/unsupported payloads or images
    smaller than ``dct_size`` in either dimension (the exact partition
    needs ≥1 pixel per cell; classic pHash upsamples instead, which
    would need an interpolation filter contract). ``bits=128``
    additionally requires ``dct_size ≥ 16`` (16 distinct row
    frequencies need ≥ 16 sample positions)."""
    import numpy as np

    if bits not in (64, 128):
        raise ValueError(f"bits must be 64 or 128, got {bits}")
    n_freq_rows = 16 if bits == 128 else 8
    if bits == 128 and dct_size < 16:
        raise ValueError("bits=128 needs dct_size >= 16")
    lum = _luma_plane(payload)
    if lum is None:
        return None
    h, w = lum.shape
    n = dct_size
    if w < n or h < n:
        return None
    rs = [(a * h + n - 1) // n for a in range(n)]
    cs = [(b * w + n - 1) // n for b in range(n)]
    S = np.add.reduceat(np.add.reduceat(lum, rs, axis=0), cs, axis=1)
    C = np.outer(np.diff(rs + [h]), np.diff(cs + [w]))
    M = (2 * S + C) // (2 * C)  # round-half-up integer cell mean
    Wr = _phash_weight_mat(n, n_freq_rows)
    Wc = _phash_weight_mat(n, 8)
    A = Wr @ M @ Wc.T  # n_freq_rows×8 low-frequency block, exact int64
    flat = [int(x) for x in A.reshape(-1)]
    thr = sorted(flat)[bits // 2 - 1]
    v = 0
    for x in flat:
        v = (v << 1) | (1 if x > thr else 0)
    return format(v, f"0{bits // 4}x")


def image_phash_frame(
    df: DataFrame,
    id_col: str,
    payload_col: str,
    dct_size: int = 32,
    bits: int = 64,
) -> DataFrame:
    """Arrow-batched pHash frame over a binary image column. At
    ``bits=64``: ``(id, phash, phash64)`` — hex hash plus the signed
    64-bit form for :func:`~petk_spark.operators.dedup.hamming_near_dup`
    (the same XOR/popcount engine aHash and the audio hash ride). At
    ``bits=128`` (round 12): ``(id, phash, phash_hi, phash_lo)`` — the
    hash as TWO signed longs (most-significant word first), the shape
    ``hamming_near_dup``'s multi-word signature form blocks on with
    32-bit keys. Corrupt or undecodable payloads yield NULLs, never
    task failures. Row-local, zero shuffles — pure scan
    work at 100 TB."""
    if bits not in (64, 128):
        raise ValueError(f"bits must be 64 or 128, got {bits}")

    def one(payload):
        hx = image_phash(payload, dct_size, bits=bits)
        return (hx, *_hash_words(hx, bits // 64))

    words = "phash64 long" if bits == 64 else "phash_hi long, phash_lo long"
    return _row_frame(df, id_col, payload_col, one,
                      f"id long, phash string, {words}")


FRAME_SAMPLE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("frame_index", T.IntegerType()),
        T.StructField("frame_digest", T.StringType()),
    ]
)


# ---------------------------------------------------------------------------
# REAL video container parse: AVI (RIFF) frame extraction — stdlib-only,
# reusing the RIFF chunk-walk discipline of the WAV parser above. The
# frames' PIXELS are not decoded (that needs a codec library); the
# container walk — locating the 'movi' LIST and iterating '00dc'/'00db'
# frame chunks — is the real production plumbing for frame sampling.
# ---------------------------------------------------------------------------


def synth_avi(frame_payloads: list[bytes], width: int = 64, height: int = 48) -> bytes:
    """Minimal valid AVI container (RIFF 'AVI ' + hdrl LIST with avih
    and a vids strl + movi LIST of '00dc' frame chunks). Deterministic
    fixture generator; the bytes follow the actual RIFF/AVI layout."""
    import struct

    def chunk(cid: bytes, data: bytes) -> bytes:
        pad = b"\x00" if len(data) % 2 else b""
        return struct.pack("<4sI", cid, len(data)) + data + pad

    def lst(ltype: bytes, body: bytes) -> bytes:
        return struct.pack("<4sI4s", b"LIST", 4 + len(body), ltype) + body

    n = len(frame_payloads)
    avih = struct.pack(
        "<IIIIIIIIIIIIII",
        33333, 0, 0, 0x10, n, 0, 1, 0, width, height, 0, 0, 0, 0,
    )
    # fccType handler flags priority language initialFrames scale rate
    # start length suggestedBufferSize quality sampleSize rcFrame(4×h)
    strh = struct.pack(
        "<4s4sIHHIIIIIIIIhhhh",
        b"vids", b"\x00\x00\x00\x00", 0, 0, 0, 0, 1, 30, 0, n, 0,
        0xFFFFFFFF, 0, 0, 0, width, height,
    )
    strf = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, width * height * 3,
        0, 0, 0, 0,
    )
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi = lst(b"movi", b"".join(chunk(b"00dc", p) for p in frame_payloads))
    body = b"AVI " + hdrl + movi
    return struct.pack("<4sI", b"RIFF", len(body)) + body


def parse_avi_frames(payload: bytes | None):
    """Yield (frame_index, frame_bytes) from real AVI container bytes:
    RIFF walk to the 'movi' LIST, then iterate its '00dc'/'00db' (and
    stream-1 '01dc'/'01db') frame chunks in order. Malformed input →
    empty iterator, never an exception."""
    import struct

    try:
        if payload is None or len(payload) < 12:
            return
        if payload[0:4] != b"RIFF" or payload[8:12] != b"AVI ":
            return
        # top-level chunk walk to find LIST/movi
        pos = 12
        movi = None
        while pos + 8 <= len(payload):
            cid, csize = struct.unpack_from("<4sI", payload, pos)
            data_start = pos + 8
            if cid == b"LIST" and payload[data_start : data_start + 4] == b"movi":
                movi = (data_start + 4, data_start + csize)
                break
            pos = data_start + csize + (csize % 2)
        if movi is None:
            return
        fpos, fend = movi
        idx = 0
        while fpos + 8 <= min(fend, len(payload)):
            cid, csize = struct.unpack_from("<4sI", payload, fpos)
            data = payload[fpos + 8 : fpos + 8 + csize]
            if len(data) != csize:
                return
            if cid[2:4] in (b"dc", b"db"):
                yield idx, data
                idx += 1
            fpos += 8 + csize + (csize % 2)
    except Exception:
        return


def frame_sample(
    df: DataFrame,
    id_col: str,
    payload_col: str,
    every_n: int = 10,
    max_frames: int = 8,
) -> DataFrame:
    """REAL video frame sampling at the container level: walk each AVI
    (RIFF) payload's 'movi' LIST, take every ``every_n``-th frame chunk
    up to ``max_frames``, and emit (id, frame_index, frame_digest) where
    the digest is md5 of the ACTUAL frame bytes from the container.
    Pixel decode of a sampled frame is the one remaining codec seam
    (no codec library in this environment); the fan-out shape (1 row in
    → ≤ max_frames rows out via mapInPandas, bounded batches, no
    shuffle) and the container parse are the real production plumbing.
    Non-AVI or corrupt payloads contribute no rows — a 100 TB scan must
    not die on one bad blob."""
    import hashlib

    id_name, payload_name = id_col, payload_col
    step = max(every_n, 1)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for rid, payload in zip(pdf[id_name], pdf[payload_name]):
                taken = 0
                for idx, frame in parse_avi_frames(payload):
                    if idx % step:
                        continue
                    out.append(
                        (rid, idx, hashlib.md5(bytes(frame)).hexdigest())
                    )
                    taken += 1
                    if taken >= max_frames:
                        break
            yield pd.DataFrame(
                out, columns=["id", "frame_index", "frame_digest"]
            )

    return df.select(id_col, payload_col).mapInPandas(
        run, schema=FRAME_SAMPLE_SCHEMA
    )


# ---------------------------------------------------------------------------
# Magic-byte MIME sniffing (round 14, F61) — the dispatch layer a real
# multimodal crawl pipeline needs BEFORE any decoder runs: crawl
# payloads arrive with missing or lying Content-Type headers, so
# format routing goes by file signature (the whatwg mime-sniffing
# model, prefix magic only — never a parse). Row-local, zero shuffles;
# reference parity: the reference engine has no binary surface at all
# (petk is tabular-only), declared beyond-reference.
# ---------------------------------------------------------------------------

def sniff_mime(payload: bytes | None) -> str | None:
    """Classify a binary payload by magic bytes → short format token
    (``wav png jpeg gif webp mp3 flac avi mp4 ogg pdf aac`` — the
    repo's decoder surface) or ``'unknown'``; None payload → None.
    Prefix-only by design: a truncated-but-headed file still routes to
    its decoder, whose own corrupt contract (valid=false) applies.
    Bare frame syncs disambiguate on the layer bits: layer 00 is
    ADTS AAC (invalid for MPEG audio), anything else MP3 — which also
    shrinks the r15-noted 0xFF 0xEx false-positive surface."""
    if payload is None:
        return None
    p = bytes(payload)
    if p[:4] == b"RIFF" and len(p) >= 12:
        sub = p[8:12]
        if sub == b"WAVE":
            return "wav"
        if sub == b"AVI ":
            return "avi"
        if sub == b"WEBP":
            return "webp"
        return "unknown"
    if p[:8] == b"\x89PNG\r\n\x1a\n":
        return "png"
    if p[:3] == b"\xff\xd8\xff":
        return "jpeg"
    if p[:6] in (b"GIF87a", b"GIF89a"):
        return "gif"
    if p[:4] == b"fLaC":
        return "flac"
    if len(p) >= 12 and p[4:8] == b"ftyp":
        return "mp4"                       # ISO-BMFF (round 15, F62)
    if p[:4] == b"OggS":
        return "ogg"                       # Ogg container (round 15, F63)
    if p[:5] == b"%PDF-":
        return "pdf"                       # PDF (round 15, F64)
    if p[:3] == b"ID3":
        return "mp3"
    if len(p) >= 2 and p[0] == 0xFF and (p[1] & 0xF6) == 0xF0:
        return "aac"                       # bare ADTS sync (round 16)
    if len(p) >= 2 and p[0] == 0xFF and (p[1] & 0xE0) == 0xE0:
        return "mp3"                       # bare MPEG frame sync
    return "unknown"


def mime_sniff_frame(
    df: DataFrame, id_col: str, payload_col: str
) -> DataFrame:
    """Arrow-batched :func:`sniff_mime` over a binary column →
    ``(id, mime)``. The routing stage for mixed-format corpora: one
    map-only pass, then each format's feature frame runs on its
    filtered slice."""
    return _row_frame(df, id_col, payload_col,
                      lambda p: (sniff_mime(p),), "id long, mime string")


MEDIA_AUTO_SCHEMA = (
    "id long, mime string, valid boolean, sample_rate int, "
    "n_channels int, bits_per_sample int, n_frames int, "
    "duration_ms long, width int, height int, bit_depth int, "
    "mean_luma double"
)
#: MEDIA_AUTO_SCHEMA's value slots after ``id, mime``
_AUTO_SLOTS = tuple(_field_names(MEDIA_AUTO_SCHEMA)[2:])


def _avi_row(payload):
    """``(valid, n_frames)`` — an AVI is valid when its movi LIST holds
    at least one frame chunk."""
    n = sum(1 for _ in parse_avi_frames(payload))
    return (n > 0, n or None)


@functools.cache
def _auto_table() -> dict:
    """mime → (row adapter, slot map): each format's typed-frame
    adapter, plus the position in its row of every MEDIA_AUTO_SCHEMA
    slot (None → NULL). A slot takes the typed column of the same name
    unless renamed: mp4's timescale rides sample_rate and its track
    count n_frames, pdf's page count rides n_frames. AVI's frame count
    and PDF's metadata-only row (no text extraction) are entries of
    their own."""
    from petk_spark.operators.jpeg import parse_jpeg
    from petk_spark.operators.mp4 import MP4_FEATURES_SCHEMA, _mp4_row
    from petk_spark.operators.ogg import OGG_FEATURES_SCHEMA, _ogg_row
    from petk_spark.operators.pdf import PDF_TEXT_SCHEMA, _pdf_row
    from petk_spark.operators.webp import WEBP_FEATURES_SCHEMA, _webp_row

    def slots(schema, **renamed):
        names = _field_names(schema)[1:]
        cols = [renamed.get(s, s) for s in _AUTO_SLOTS]
        return tuple(names.index(c) if c in names else None for c in cols)

    return {
        "wav": (parse_wav_header, slots(WAV_METADATA_SCHEMA)),
        "mp3": (_mp3_row, slots(MP3_FEATURES_SCHEMA)),
        "aac": (_adts_row, slots(ADTS_FEATURES_SCHEMA)),
        "flac": (_flac_row, slots(WAV_METADATA_SCHEMA)),
        "png": (parse_png, slots(PNG_FEATURES_SCHEMA)),
        "jpeg": (parse_jpeg, slots(PNG_FEATURES_SCHEMA)),
        "gif": (_gif_row, slots(GIF_FEATURES_SCHEMA)),
        "webp": (_webp_row, slots(WEBP_FEATURES_SCHEMA)),
        "avi": (_avi_row, slots("id long, valid boolean, n_frames int")),
        "mp4": (_mp4_row, slots(MP4_FEATURES_SCHEMA, sample_rate="timescale",
                                n_frames="n_tracks")),
        "ogg": (_ogg_row, slots(OGG_FEATURES_SCHEMA)),
        "pdf": (functools.partial(_pdf_row, with_text=False),
                slots(PDF_TEXT_SCHEMA, n_frames="n_pages")),
    }


def _auto_one(payload) -> tuple:
    """(mime, valid, sample_rate, n_channels, bits, n_frames,
    duration_ms, width, height, bit_depth, mean_luma) for one payload
    — sniff, then the format's typed-frame adapter projected through
    :func:`_auto_table`; unknown/corrupt → valid=false, never an
    exception (the repo-wide codec contract)."""
    mime = sniff_mime(payload)
    entry = _auto_table().get(mime)
    if entry is not None:
        adapter, slots = entry
        try:
            row = adapter(payload)
        except Exception:
            row = None
        if row is not None and row[0]:
            return (mime, *(None if i is None else row[i] for i in slots))
    return (mime, False) + (None,) * (len(_AUTO_SLOTS) - 1)


def media_features_auto(
    df: DataFrame, id_col: str, payload_col: str
) -> DataFrame:
    """Sniff-and-dispatch metadata extraction over a MIXED-format
    binary column in ONE scan (round 14, composing F61 with every
    typed parser): per row, magic-byte routing picks the parser, and
    all formats emit the unified :data:`MEDIA_AUTO_SCHEMA` row — the
    production shape for crawl media, where one frame holds whatever
    the fetcher stored. Row-local Arrow kernel, zero shuffles; corrupt
    or unknown payloads become valid=false rows, never exceptions."""
    return _row_frame(df, id_col, payload_col, _auto_one, MEDIA_AUTO_SCHEMA)
