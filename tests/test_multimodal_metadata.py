"""Magic-byte MIME sniffing (round 14, F61): signature dispatch for
the full decoder surface. The media_metadata ``sniff`` kind hash-pins
the doc_id % 8 schedule; these tests pin the classifier itself."""

from __future__ import annotations

def test_sniff_mime_magic_bytes(spark):
    """Round 14 (F61): magic-byte MIME dispatch — every synthesized
    format routes to its token, RIFF sub-types split, truncated-but-
    headed payloads still route (prefix-only by design), junk →
    'unknown', NULL → NULL; plus the Spark frame."""
    from petk_spark.operators.multimodal import (
        mime_sniff_frame,
        sniff_mime,
        synth_flac,
        synth_mp3,
    )

    assert sniff_mime(synth_mp3(2, 128, 44100)) == "mp3"
    assert sniff_mime(synth_mp3(2, 128, 44100, id3_size=40)) == "mp3"
    assert sniff_mime(synth_flac(44100, 2, 16, 100)) == "flac"
    assert sniff_mime(b"GIF89a" + b"\x00" * 4) == "gif"
    assert sniff_mime(b"GIF87a!") == "gif"
    assert sniff_mime(b"\x89PNG\r\n\x1a\n" + b"x") == "png"
    assert sniff_mime(b"\xff\xd8\xff\xe0rest") == "jpeg"
    assert sniff_mime(b"RIFF\x00\x00\x00\x00WAVE") == "wav"
    assert sniff_mime(b"RIFF\x00\x00\x00\x00AVI ") == "avi"
    assert sniff_mime(b"RIFF\x00\x00\x00\x00WEBP") == "webp"
    assert sniff_mime(b"RIFF\x00\x00\x00\x00XXXX") == "unknown"
    assert sniff_mime(b"RIFFxxx") == "unknown"      # too short for sub
    assert sniff_mime(b"plain text") == "unknown"
    assert sniff_mime(b"") == "unknown"
    assert sniff_mime(None) is None
    # truncated-but-headed: routes to its decoder, which then rejects
    assert sniff_mime(b"\x89PNG\r\n\x1a\n") == "png"
    rows = [
        (0, synth_mp3(2, 128, 44100)),
        (1, b"\x89PNG\r\n\x1a\nabc"),
        (2, b"junk"),
        (3, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {
        r["id"]: r["mime"]
        for r in mime_sniff_frame(df, "doc_id", "payload").collect()
    }
    assert got == {0: "mp3", 1: "png", 2: "unknown", 3: None}


def test_media_features_auto_mixed_frame(spark):
    """Round 14: the one-scan sniff-and-dispatch composite — a mixed
    frame of every format plus junk and NULL comes back as one unified
    metadata row each, fields matching the typed parsers."""
    import numpy as np

    from petk_spark.operators.gif import encode_gif
    from petk_spark.operators.jpeg import encode_baseline_jpeg
    from petk_spark.operators.multimodal import (
        media_features_auto,
        synth_avi,
        synth_flac,
        synth_mp3,
        synth_png,
        synth_wav,
    )
    from petk_spark.operators.vp8l import encode_webp_lossless_gray

    gray = np.full((8, 10), 50, dtype=np.uint8)
    rows = [
        (0, synth_wav(44100, 2, 16, 1000)),
        (1, synth_mp3(6, 128, 44100)),
        (2, synth_flac(48000, 1, 24, 960)),
        (3, synth_png(10, 8, 40, 0)),
        (4, encode_baseline_jpeg(gray)),
        (5, encode_gif(gray)),
        (6, encode_webp_lossless_gray(gray)),
        (7, synth_avi([b"frame0", b"frame1", b"frame2"])),
        (8, b"not media"),
        (9, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {
        r["id"]: r
        for r in media_features_auto(df, "doc_id", "payload").collect()
    }
    assert got[0]["mime"] == "wav" and got[0]["valid"]
    assert got[0]["sample_rate"] == 44100 and got[0]["n_frames"] == 1000
    assert got[1]["mime"] == "mp3" and got[1]["n_frames"] == 6
    assert got[1]["duration_ms"] == 6 * 1152 * 1000 // 44100
    assert got[2]["mime"] == "flac" and got[2]["bits_per_sample"] == 24
    assert got[3]["mime"] == "png" and (got[3]["width"], got[3]["height"]) == (10, 8)
    # png fixture: row r is constant base+r → mean = 40 + (h-1)/2
    assert got[3]["mean_luma"] == 40 + (8 - 1) / 2
    assert got[4]["mime"] == "jpeg" and got[4]["valid"]
    assert abs(got[4]["mean_luma"] - 50.0) < 1.0   # near-lossless flat
    assert got[5]["mime"] == "gif" and got[5]["mean_luma"] == 50.0
    assert got[6]["mime"] == "webp" and got[6]["mean_luma"] == 50.0
    assert (got[6]["width"], got[6]["height"]) == (10, 8)
    assert got[7]["mime"] == "avi" and got[7]["n_frames"] == 3
    assert got[8]["mime"] == "unknown" and not got[8]["valid"]
    assert got[9]["mime"] is None and not got[9]["valid"]
    # corrupt-but-headed: routes by prefix, parser flags invalid
    bad = spark.createDataFrame(
        [(0, b"\x89PNG\r\n\x1a\n truncated")], "doc_id long, payload binary"
    )
    r = media_features_auto(bad, "doc_id", "payload").collect()[0]
    assert r["mime"] == "png" and not r["valid"]


def _parity_payloads():
    """(format, payload) pairs for every format sniff_mime routes: one
    or two good payloads each plus byte-prefix truncations to 12 bytes
    or more, which keep the magic (so they still route to the same
    decoder)."""
    import numpy as np

    from petk_spark.operators.gif import encode_gif
    from petk_spark.operators.jpeg import synth_jpeg_blocks
    from petk_spark.operators.mp4 import synth_mp4
    from petk_spark.operators.multimodal import (
        synth_adts,
        synth_avi,
        synth_flac,
        synth_mp3,
        synth_png,
        synth_wav,
    )
    from petk_spark.operators.ogg import synth_ogg
    from petk_spark.operators.pdf import synth_pdf
    from petk_spark.operators.vp8l import encode_webp_lossless_gray
    from petk_spark.operators.webp import synth_webp_extended

    ramp = (np.arange(9 * 12).reshape(9, 12) * 2).astype(np.uint8)
    good = {
        "wav": [synth_wav(44100, 2, 16, 1000), synth_wav(8000, 1, 8, 30)],
        "png": [synth_png(10, 8, 40, 0), synth_png(17, 5, 3, 1)],
        "jpeg": [synth_jpeg_blocks(24, 16, 5)],
        "gif": [encode_gif(ramp)],
        "webp": [encode_webp_lossless_gray(ramp),
                 synth_webp_extended(20, 10, alpha=True, n_frames=3)],
        "mp3": [synth_mp3(6, 128, 44100), synth_mp3(4, 32, 22050, version=2)],
        "aac": [synth_adts(5, 44100, 2)],
        "flac": [synth_flac(48000, 1, 24, 960, with_padding=True)],
        "mp4": [synth_mp4(b"isom", 1000, 5000, [(64, 48), None])],
        "ogg": [synth_ogg("vorbis", 44100, 2, 88200),
                synth_ogg("opus", 48000, 1, 96000, pre_skip=312)],
        "pdf": [synth_pdf(["one", "two"])],
        "avi": [synth_avi([b"frame0", b"frame1", b"frame2"])],
    }
    out = []
    for fmt, payloads in good.items():
        for p in payloads:
            out.append((fmt, p))
            for cut in sorted({12, len(p) // 3, len(p) // 2, len(p) - 1}):
                out.append((fmt, p[:cut]))
    return out


def test_media_features_auto_matches_typed_frames(spark):
    """Every format's media_features_auto row equals its typed frame's
    row projected onto MEDIA_AUTO_SCHEMA: same-name columns, plus mp4
    timescale→sample_rate and n_tracks→n_frames, pdf n_pages→n_frames,
    and the AVI frame count (frame_sample rows) → n_frames."""
    from pyspark.sql import functions as F

    from petk_spark.operators import multimodal as mm
    from petk_spark.operators.mp4 import mp4_features_frame
    from petk_spark.operators.ogg import ogg_features_frame
    from petk_spark.operators.pdf import pdf_text_frame
    from petk_spark.operators.webp import webp_features_frame

    typed = {
        "wav": (mm.wav_metadata_frame, {}),
        "png": (mm.png_features_frame, {}),
        "jpeg": (mm.jpeg_features_frame, {}),
        "gif": (mm.gif_features_frame, {}),
        "webp": (webp_features_frame, {}),
        "mp3": (mm.mp3_features_frame, {}),
        "aac": (mm.adts_features_frame, {}),
        "flac": (mm.flac_features_frame, {}),
        "mp4": (mp4_features_frame,
                {"sample_rate": "timescale", "n_frames": "n_tracks"}),
        "ogg": (ogg_features_frame, {}),
        "pdf": (pdf_text_frame, {"n_frames": "n_pages"}),
    }
    items = _parity_payloads()
    df = spark.createDataFrame(
        [(i, fmt, p) for i, (fmt, p) in enumerate(items)],
        "id long, fmt string, payload binary",
    ).cache()
    auto = {r["id"]: r for r in mm.media_features_auto(df, "id", "payload").collect()}
    slots = [f for f in auto[0].__fields__ if f not in ("id", "mime")]
    assert len(slots) == 10
    expected = {}
    for fmt, (frame, renamed) in typed.items():
        part = df.filter(F.col("fmt") == fmt)
        for r in frame(part, "id", "payload").collect():
            d = r.asDict()
            expected[r["id"]] = tuple(d.get(renamed.get(s, s)) for s in slots)
    avi = df.filter(F.col("fmt") == "avi")
    counts = dict.fromkeys((r["id"] for r in avi.collect()), 0)
    for r in mm.frame_sample(avi, "id", "payload", every_n=1,
                             max_frames=1 << 20).collect():
        counts[r["id"]] += 1
    for i, n in counts.items():
        expected[i] = tuple(
            n > 0 if s == "valid" else (n or None) if s == "n_frames" else None
            for s in slots
        )
    assert sorted(expected) == sorted(auto) == list(range(len(items)))
    for i, (fmt, _p) in enumerate(items):
        got = auto[i]
        assert got["mime"] == fmt, (i, fmt, got["mime"])
        assert tuple(got[s] for s in slots) == expected[i], (i, fmt)
    # the fixture set exercises both the valid and the corrupt path of
    # every format
    for fmt in typed.keys() | {"avi"}:
        flags = {auto[i]["valid"] for i, (f, _) in enumerate(items) if f == fmt}
        assert flags == {True, False}, fmt
    df.unpersist()


def test_hash_words_survive_undecodable_rows_in_batch(spark):
    """A NULL hash in an Arrow batch must not push the batch's 64-bit
    hash ints through float64: each phash64 equals the signed form of
    its own hex hash even next to an undecodable payload."""
    from petk_spark.operators.jpeg import synth_jpeg_blocks
    from petk_spark.operators.multimodal import image_phash_frame

    def signed(u):
        return u - (1 << 64) if u >= (1 << 63) else u

    rows = [(i, synth_jpeg_blocks(64, 64, 7 * i)) for i in range(6)]
    rows.append((6, b"not an image"))
    df = spark.createDataFrame(rows, "id long, payload binary").coalesce(1)
    got = image_phash_frame(df, "id", "payload").collect()
    assert len(got) == 7
    for r in got:
        if r["id"] == 6:
            assert r["phash"] is None and r["phash64"] is None
        else:
            assert r["phash64"] == signed(int(r["phash"], 16)), r["id"]
    wide = image_phash_frame(df, "id", "payload", dct_size=16, bits=128)
    for r in wide.collect():
        if r["phash"] is not None:
            u = int(r["phash"], 16)
            assert (r["phash_hi"], r["phash_lo"]) == (
                signed(u >> 64), signed(u & ((1 << 64) - 1))
            )


def test_frames_keep_a_string_id(spark):
    """Non-long ids pass through unchanged: sniff, auto and a typed
    frame keep a string id column and its values."""
    from pyspark.sql import types as T

    from petk_spark.operators.multimodal import (
        media_features_auto,
        mime_sniff_frame,
        png_features_frame,
        synth_png,
    )

    df = spark.createDataFrame(
        [("a", synth_png(10, 8, 40, 0)), ("b", b"junk"), ("c", None)],
        "rid string, payload binary",
    )
    sniff = mime_sniff_frame(df, "rid", "payload")
    auto = media_features_auto(df, "rid", "payload")
    png = png_features_frame(df, "rid", "payload")
    for frame in (sniff, auto, png):
        assert frame.schema["id"].dataType == T.StringType()
    assert {r["id"]: r["mime"] for r in sniff.collect()} == {
        "a": "png", "b": "unknown", "c": None,
    }
    assert {r["id"]: r["valid"] for r in auto.collect()} == {
        "a": True, "b": False, "c": False,
    }
    got = {r["id"]: r for r in png.collect()}
    assert got["a"]["valid"] and (got["a"]["width"], got["a"]["height"]) == (10, 8)
    assert not got["b"]["valid"] and not got["c"]["valid"]
    # long ids keep the declared schemas exactly
    longs = spark.createDataFrame([(1, b"x")], "id long, payload binary")
    assert png_features_frame(longs, "id", "payload").schema["id"].dataType == T.LongType()
