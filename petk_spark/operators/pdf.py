"""PDF ingestion (round 15, F64 — r14 verdict #2; round 16 extends to
PDF 1.5+): the largest text-bearing crawl format.

Two tiers, same discipline as the other container modules:

* **metadata** — header version + cross-reference walk → object count,
  page count (``/Type /Pages /Count``), all closed-form integers
  (F57/F58 discipline); a ``pdf`` kind on ``media_metadata``. Round 16
  (r15 verdict #2): the walk now covers BOTH the classic ``xref``
  table AND the PDF 1.5+ **cross-reference stream** (``/Type /XRef``,
  ``/W``-packed entries, ``/Index`` subsections, FlateDecode,
  ``/DecodeParms`` PNG/TIFF predictors) with **object streams**
  (``/Type /ObjStm`` type-2 entries, inflated and sliced by the
  ``/First`` header) and ``/Prev`` chains — the layout essentially
  every PDF produced since ~2007 uses, so this is what converts the
  module from fixture-grade to crawl-grade.
* **text extraction** — per page, the ``/Contents`` stream (raw or
  ``/FlateDecode`` — zlib is already a proven in-repo dependency via
  the PNG path) is walked for ``Tj`` / ``TJ`` / ``'`` text-showing
  operators with full PDF literal-string unescaping (octal, named
  escapes, nested parens, line continuations) and — round 16 (r15
  verdict #3) — **hex strings** (``<48656C6C6F> Tj``, whitespace
  allowed, odd length pads 0), the form most font-subset PDFs emit;
  pages join with newlines. Feeds the ``documents`` shape directly —
  the WARC→HTML→text precedent (F54) for pipeline composition; the
  ``pdf_rt`` family on ``corpus_clean`` replays the extracted text's
  md5 from the synthesis arithmetic.

Out of scope by the metadata-not-full-render policy: fonts, layout,
encoding CMaps (text is assumed PDFDocEncoded/ASCII — the synthesized
fixture tier and the bulk of crawl text), encryption, indirect
``/Length`` references (length recovered by endstream scan) — each a
documented swap seam for a real renderer. ``parse_pdf_metadata``
returns None for those rather than guessing.

Reference parity: the reference engine is tabular-only — declared
beyond-reference. Scale: row-local Arrow kernels (``multimodal._row_frame``),
zero shuffles, corrupt → valid=false, never task failure — since
round 16 the per-row parse in ``pdf_text_frame``/``read_pdf`` is
wrapped in the ``_auto_one`` catch-all pattern AND the two crash
paths the r15 mutation fuzz found (non-digit xref offset bytes,
``\\8``/``\\9`` pseudo-octal escapes) are fixed at the source, so the
contract holds under byte corruption, not just truncation
(tests/test_pdf.py mutation fuzz).
"""

from __future__ import annotations

import re
import zlib
from typing import Optional, Sequence, Union

from pyspark.sql import DataFrame

from petk_spark.operators.multimodal import _row_frame

__all__ = [
    "synth_pdf",
    "parse_pdf_metadata",
    "extract_pdf_text",
    "pdf_text_frame",
    "read_pdf",
    "PDF_TEXT_SCHEMA",
]


# ---------------------------------------------------------------------------
# synthesis (fixture tier): a genuine incremental writer — header,
# numbered objects, a correct byte-offset xref table OR a real
# /W-packed cross-reference stream (with optional /ObjStm packing and
# PNG/TIFF predictors), trailer/startxref.
# ---------------------------------------------------------------------------


def _pdf_escape(s: str) -> str:
    return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")


def _png_filter_up(rows: bytes, cols: int) -> bytes:
    """Apply the PNG Up filter (type 2) row-wise — the encoding real
    xref streams almost universally carry (/Predictor 12)."""
    out = bytearray()
    prev = bytes(cols)
    for r in range(0, len(rows), cols):
        row = rows[r:r + cols]
        out.append(2)
        out += bytes((row[i] - prev[i]) & 0xFF for i in range(cols))
        prev = row
    return bytes(out)


def synth_pdf(
    page_texts: Sequence[str],
    version: str = "1.4",
    flate: bool = True,
    tj_array_first_page: bool = False,
    hex_first_page: bool = False,
    utf16_first_page: bool = False,
    xref_stream: bool = False,
    objstm: bool = False,
    predictor: int = 1,
    info: Optional[tuple[str, str]] = None,
) -> bytes:
    """Minimal valid PDF: catalog → pages → one page + one content
    stream per entry of ``page_texts`` + a shared Type1 font object,
    real xref offsets, trailer, startxref. ``flate`` zlib-compresses
    the content streams (``/Filter /FlateDecode``);
    ``tj_array_first_page`` shows the first page's text as a split
    ``TJ`` array (with kerning numbers) instead of one ``Tj``;
    ``hex_first_page`` shows the first page's text (or, combined with
    ``tj_array_first_page``, the second half of its TJ array) as a
    ``<hex>`` string so both string syntaxes are exercised;
    ``utf16_first_page`` shows the first page's text as a
    BOM-prefixed UTF-16BE hex string (the CID-font shape for
    non-ASCII text — takes precedence over the other first-page
    modes and permits non-latin-1 characters on that page).

    Round 16 layouts (PDF 1.5+): ``xref_stream=True`` replaces the
    classic table with a ``/Type /XRef`` cross-reference stream
    (``/W [1 4 2]``, FlateDecode, ``/Index``); ``objstm=True``
    additionally packs every non-stream object (catalog, pages tree,
    page dicts, font) into one ``/Type /ObjStm`` compressed object
    stream referenced by type-2 entries; ``predictor`` ∈ {1, 2, 12}
    encodes the xref entry bytes with no predictor / TIFF horizontal
    / PNG Up.

    Object-count closed forms (trailer ``/Size`` − 1, the ``pdf``
    oracle kind): classic = ``3 + 2·n_pages``; ``info`` (a
    ``(title, author)`` pair written as a real document-information
    dictionary referenced from the trailer ``/Info``) adds one;
    ``xref_stream`` adds the XRef object (+1); ``objstm`` adds the
    ObjStm object (+1).
    """
    n_pages = len(page_texts)
    font_num = 3 + 2 * n_pages
    objs: list[bytes] = []                        # 1-based object bodies
    kids = " ".join(f"{3 + 2 * i} 0 R" for i in range(n_pages))
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objs.append(
        f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode()
    )
    stream_nums: set[int] = set()
    for i, text in enumerate(page_texts):
        objs.append(
            (
                f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
                f"/Contents {4 + 2 * i} 0 R "
                f"/Resources << /Font << /F1 {font_num} 0 R >> >> >>"
            ).encode()
        )
        if i == 0 and utf16_first_page:
            # BOM-prefixed UTF-16BE hex string — the CID-font shape
            # for non-ASCII text (PDF 32000-1 §7.9.2.2)
            enc = b"\xfe\xff" + text.encode("utf-16-be")
            shown = f"<{enc.hex()}> Tj"
        elif i == 0 and tj_array_first_page and len(text) >= 2:
            mid = len(text) // 2
            second = (
                f"<{text[mid:].encode('latin-1').hex()}>"
                if hex_first_page
                else f"({_pdf_escape(text[mid:])})"
            )
            shown = f"[({_pdf_escape(text[:mid])}) -250 {second}] TJ"
        elif i == 0 and hex_first_page:
            shown = f"<{text.encode('latin-1').hex()}> Tj"
        else:
            shown = f"({_pdf_escape(text)}) Tj"
        content = (
            f"BT /F1 12 Tf 72 720 Td {shown} ET".encode("latin-1")
        )
        if flate:
            data = zlib.compress(content)
            head = f"<< /Length {len(data)} /Filter /FlateDecode >>"
        else:
            data = content
            head = f"<< /Length {len(data)} >>"
        objs.append(
            head.encode() + b"\nstream\n" + data + b"\nendstream"
        )
        stream_nums.add(4 + 2 * i)
    objs.append(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    info_ref = b""
    if info is not None:
        def _info_str(s: str) -> str:
            # latin-1-able text as a literal string (PDFDocEncoding
            # overlap), anything else as a BOM-prefixed UTF-16BE hex
            # string — the two spec text-string forms
            try:
                s.encode("latin-1")
                return f"({_pdf_escape(s)})"
            except UnicodeEncodeError:
                return "<" + (
                    b"\xfe\xff" + s.encode("utf-16-be")
                ).hex() + ">"

        objs.append(
            (
                f"<< /Title {_info_str(info[0])} "
                f"/Author {_info_str(info[1])} >>"
            ).encode("latin-1")
        )
        info_ref = f" /Info {font_num + 1} 0 R".encode()

    out = bytearray(f"%PDF-{version}\n".encode())
    out += b"%\xe2\xe3\xcf\xd3\n"                 # binary-marker comment

    if not xref_stream:
        offsets = [0]                             # object 0 is the free head
        for num, body in enumerate(objs, start=1):
            offsets.append(len(out))
            out += f"{num} 0 obj\n".encode() + body + b"\nendobj\n"
        xref_at = len(out)
        out += f"xref\n0 {len(objs) + 1}\n".encode()
        out += b"0000000000 65535 f \n"
        for off in offsets[1:]:
            out += f"{off:010d} 00000 n \n".encode()
        out += (
            f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R".encode()
            + info_ref
            + f" >>\nstartxref\n{xref_at}\n%%EOF\n".encode()
        )
        return bytes(out)

    # --- PDF 1.5+ layout: xref stream (+ optional ObjStm packing) ---
    # entries[num] = (type, f2, f3)
    entries: dict[int, tuple[int, int, int]] = {0: (0, 0, 65535)}
    objstm_num = len(objs) + 1
    xref_num = objstm_num + (1 if objstm else 0)

    packed: list[tuple[int, bytes]] = []
    for num, body in enumerate(objs, start=1):
        if objstm and num not in stream_nums:
            packed.append((num, body))            # type-2, filled below
        else:
            entries[num] = (1, len(out), 0)
            out += f"{num} 0 obj\n".encode() + body + b"\nendobj\n"

    if objstm:
        header = bytearray()
        payload = bytearray()
        for idx, (num, body) in enumerate(packed):
            header += f"{num} {len(payload)} ".encode()
            payload += body + b"\n"
            entries[num] = (2, objstm_num, idx)
        stm = bytes(header) + bytes(payload)
        data = zlib.compress(stm)
        entries[objstm_num] = (1, len(out), 0)
        out += (
            f"{objstm_num} 0 obj\n<< /Type /ObjStm /N {len(packed)} "
            f"/First {len(header)} /Length {len(data)} "
            f"/Filter /FlateDecode >>\nstream\n".encode()
            + data + b"\nendstream\nendobj\n"
        )

    size = xref_num + 1
    xref_at = len(out)
    entries[xref_num] = (1, xref_at, 0)
    w1, w2, w3 = 1, 4, 2
    cols = w1 + w2 + w3
    rows = bytearray()
    for num in range(size):
        t, f2, f3 = entries.get(num, (0, 0, 0))
        rows += t.to_bytes(w1, "big")
        rows += f2.to_bytes(w2, "big")
        rows += f3.to_bytes(w3, "big")
    parms = ""
    if predictor == 12:
        rows = bytearray(_png_filter_up(bytes(rows), cols))
        parms = f" /DecodeParms << /Predictor 12 /Columns {cols} >>"
    elif predictor == 2:
        diffed = bytearray()
        for r in range(0, len(rows), cols):
            row = rows[r:r + cols]
            diffed.append(row[0])
            for i in range(1, cols):
                diffed.append((row[i] - row[i - 1]) & 0xFF)
        rows = diffed
        parms = f" /DecodeParms << /Predictor 2 /Columns {cols} >>"
    data = zlib.compress(bytes(rows))
    out += (
        f"{xref_num} 0 obj\n<< /Type /XRef /Size {size} "
        f"/W [{w1} {w2} {w3}] /Index [0 {size}] /Root 1 0 R".encode()
        + info_ref
        + f" /Length {len(data)} /Filter /FlateDecode{parms} "
        f">>\nstream\n".encode()
        + data + b"\nendstream\nendobj\n"
    )
    out += f"startxref\n{xref_at}\n%%EOF\n".encode()
    return bytes(out)


# ---------------------------------------------------------------------------
# parsing
# ---------------------------------------------------------------------------

#: xref entry value: byte offset (type 1) or (objstm_num, idx) (type 2)
_XrefEntry = Union[int, tuple[int, int]]


# Key-pattern caches (optimization round 16, guide §4.5): these three
# helpers run per object per row; building the f-string pattern and
# round-tripping re's global cache per call was measurable in the
# media twin's UDF profile. The key set is a small closed vocabulary
# (/Type, /Count, /Kids, ...), so per-key compiled patterns are cached
# here once per worker. Semantics unchanged: same pattern text.
_DICT_RE_CACHE: dict = {}


def _dict_key_re(key: str, form: str) -> "re.Pattern":
    hit = _DICT_RE_CACHE.get((key, form))
    if hit is None:
        if form == "ref":
            pat = rf"/{key}\s+(\d+)\s+\d+\s+R".encode()
        elif form == "int":
            pat = rf"/{key}\s+(\d+)".encode()
        else:
            pat = rf"/{key}\s*\[([^\]]*)\]".encode()
        hit = _DICT_RE_CACHE[(key, form)] = re.compile(pat)
    return hit


def _dict_ref(obj: bytes, key: str) -> Optional[int]:
    m = _dict_key_re(key, "ref").search(obj)
    return int(m.group(1)) if m else None


def _dict_int(obj: bytes, key: str) -> Optional[int]:
    m = _dict_key_re(key, "int").search(obj)
    return int(m.group(1)) if m else None


def _dict_ints(obj: bytes, key: str) -> Optional[list[int]]:
    m = _dict_key_re(key, "ints").search(obj)
    if m is None:
        return None
    return [int(x) for x in re.findall(rb"\d+", m.group(1))]


def _unpredict(data: bytes, predictor: int, cols: int) -> Optional[bytes]:
    """Undo the /DecodeParms predictor on cols-wide rows (bpp=1 — the
    /Colors 1 /BitsPerComponent 8 case every xref stream uses).
    Predictor 1 = identity, 2 = TIFF horizontal, 10–15 = PNG
    (per-row filter byte: None/Sub/Up/Average/Paeth)."""
    if predictor <= 1:
        return data
    if cols <= 0:
        return None
    if predictor == 2:
        if len(data) % cols:
            return None
        out = bytearray(data)
        for r in range(0, len(out), cols):
            for i in range(1, cols):
                out[r + i] = (out[r + i] + out[r + i - 1]) & 0xFF
        return bytes(out)
    if 10 <= predictor <= 15:
        rowlen = cols + 1
        if len(data) % rowlen:
            return None
        out = bytearray()
        prev = bytearray(cols)
        for r in range(0, len(data), rowlen):
            ft = data[r]
            row = bytearray(data[r + 1:r + rowlen])
            if ft == 0:
                pass
            elif ft == 1:
                for i in range(1, cols):
                    row[i] = (row[i] + row[i - 1]) & 0xFF
            elif ft == 2:
                for i in range(cols):
                    row[i] = (row[i] + prev[i]) & 0xFF
            elif ft == 3:
                for i in range(cols):
                    left = row[i - 1] if i else 0
                    row[i] = (row[i] + ((left + prev[i]) >> 1)) & 0xFF
            elif ft == 4:
                for i in range(cols):
                    a = row[i - 1] if i else 0
                    b = prev[i]
                    c = prev[i - 1] if i else 0
                    pp = a + b - c
                    pa, pb, pc = abs(pp - a), abs(pp - b), abs(pp - c)
                    pred = a if pa <= pb and pa <= pc else (
                        b if pb <= pc else c
                    )
                    row[i] = (row[i] + pred) & 0xFF
            else:
                return None
            out += row
            prev = row
        return bytes(out)
    return None


def _stream_payload(obj: bytes) -> Optional[bytes]:
    """The decoded stream data of an object body: bytes between the
    ``stream`` keyword and the trailing ``endstream``, inflated when
    ``/Filter /FlateDecode``."""
    sm = re.search(rb"stream\r?\n", obj)
    if sm is None:
        return None
    send = obj.rfind(b"endstream")
    if send < sm.end():
        return None
    data = obj[sm.end():send]
    if data.endswith(b"\n"):
        data = data[:-1]
        if data.endswith(b"\r"):
            data = data[:-1]
    if b"/FlateDecode" in obj[:sm.start()]:
        try:
            # 64 MB inflate cap: a crafted stream must not be able to
            # decompress-bomb an executor (truncation → parse failure
            # → valid=false, per the corrupt-input contract)
            d = zlib.decompressobj()
            data = d.decompress(data, 1 << 26)
            if d.unconsumed_tail:
                return None
        except zlib.error:
            return None
    return data


def _parse_xref_stream(
    p: bytes, pos: int
) -> Optional[tuple[dict[int, _XrefEntry], bytes, Optional[int]]]:
    """A PDF 1.5+ cross-reference stream at byte ``pos`` →
    (entries, trailer-dict bytes, /Prev position or None). The stream
    dict IS the trailer (/Root, /Size live in it)."""
    hm = re.match(rb"\s*\d+\s+\d+\s+obj", p[pos:pos + 48])
    if hm is None:
        return None
    body = _obj_at(p, pos)
    if body is None:
        return None
    sm = re.search(rb"stream\r?\n", body)
    if sm is None:
        return None
    head = body[:sm.start()]
    if b"/XRef" not in head:
        return None
    w = _dict_ints(head, "W")
    size = _dict_int(head, "Size")
    if w is None or len(w) != 3 or size is None or size > 1 << 24:
        return None
    if any(x < 0 or x > 8 for x in w) or sum(w) == 0:
        return None
    index = _dict_ints(head, "Index")
    if index is None:
        index = [0, size]
    if len(index) % 2:
        return None
    data = _stream_payload(body)
    if data is None:
        return None
    pred_m = re.search(rb"/Predictor\s+(\d+)", head)
    if pred_m is not None:
        cols_m = re.search(rb"/Columns\s+(\d+)", head)
        cols = int(cols_m.group(1)) if cols_m else sum(w)
        data = _unpredict(data, int(pred_m.group(1)), cols)
        if data is None:
            return None
    rowlen = sum(w)
    n_rows = sum(index[1::2])
    if n_rows > 1 << 24 or len(data) < rowlen * n_rows:
        return None
    entries: dict[int, _XrefEntry] = {}
    at = 0
    for s in range(0, len(index), 2):
        start, count = index[s], index[s + 1]
        for i in range(count):
            row = data[at:at + rowlen]
            at += rowlen
            j = 0
            t = int.from_bytes(row[:w[0]], "big") if w[0] else 1
            j += w[0]
            f2 = int.from_bytes(row[j:j + w[1]], "big")
            j += w[1]
            f3 = int.from_bytes(row[j:j + w[2]], "big")
            num = start + i
            if t == 1:
                entries[num] = f2
            elif t == 2:
                entries[num] = (f2, f3)
    prev = _dict_int(head, "Prev")
    return entries, head, prev


def _load_xref(
    p: bytes,
) -> Optional[tuple[dict[int, _XrefEntry], bytes]]:
    """startxref → cross-reference walk → ({obj_num: entry}, trailer
    bytes). Handles BOTH the classic ``xref`` table and PDF 1.5+
    cross-reference streams, following ``/Prev`` chains (newest wins —
    the walk starts at the latest section and earlier sections only
    fill holes). None for truncated/malformed tables."""
    tail = p[-256:]
    m = None
    for m in re.finditer(rb"startxref\s+(\d+)", tail):
        pass                                      # keep the LAST one
    if m is None:
        return None
    pos = int(m.group(1))
    entries: dict[int, _XrefEntry] = {}
    trailer: Optional[bytes] = None
    seen_pos: set[int] = set()
    while pos is not None and pos not in seen_pos and len(seen_pos) < 64:
        seen_pos.add(pos)
        if pos >= len(p):
            return None
        if p[pos:pos + 4] == b"xref":
            got = _parse_xref_table(p, pos)
        else:
            got = _parse_xref_stream(p, pos)
        if got is None:
            return None
        sec_entries, sec_trailer, prev = got
        for num, e in sec_entries.items():
            entries.setdefault(num, e)
        if trailer is None:
            trailer = sec_trailer
        pos = prev
    if trailer is None:
        return None
    return entries, trailer


def _parse_xref_table(
    p: bytes, pos: int
) -> Optional[tuple[dict[int, _XrefEntry], bytes, Optional[int]]]:
    """The classic ``xref`` table at ``pos`` → (entries, trailer
    bytes, /Prev position or None)."""
    cur = pos + 4
    offsets: dict[int, _XrefEntry] = {}
    while True:
        m2 = re.match(rb"\s*(\d+)\s+(\d+)\s*\n", p[cur:cur + 64])
        if m2 is None:
            break
        start, count = int(m2.group(1)), int(m2.group(2))
        cur += m2.end()
        need = 20 * count
        if count > 1 << 24 or cur + need > len(p):
            return None                           # truncated entries
        for i in range(count):
            entry = p[cur + 20 * i: cur + 20 * (i + 1)]
            if entry[17:18] == b"n":
                # digit-validate BEFORE int(): a single corrupted byte
                # in the offset field must reject the table, not raise
                # (r15 ADVICE/fuzz: 517/3000 single-byte flips crashed)
                if not entry[:10].isdigit():
                    return None
                offsets[start + i] = int(entry[:10])
        cur += need
    t = p.find(b"trailer", cur)
    if t < 0:
        return None
    trailer = p[t: t + 512]
    return offsets, trailer, _dict_int(trailer, "Prev")


def _obj_at(p: bytes, off: int) -> Optional[bytes]:
    """The full object body at byte ``off`` (everything between the
    ``N G obj`` header and ``endobj``), stream-aware: when the object
    carries a stream with a direct ``/Length``, the scan for
    ``endobj`` starts AFTER the declared stream bytes so compressed
    payloads containing the literal keyword cannot truncate it."""
    if off >= len(p):
        return None
    hm = re.match(rb"\s*\d+\s+\d+\s+obj", p[off:off + 48])
    if hm is None:
        return None
    body_at = off + hm.end()
    plain_end = p.find(b"endobj", body_at)
    # only a `stream` keyword BEFORE the first endobj can belong to
    # this object (a later window would read the NEXT object's dict)
    win_end = plain_end if plain_end >= 0 else min(
        len(p), body_at + 2048
    )
    sm = re.search(rb"stream\r?\n", p[body_at:win_end])
    if sm is not None:
        head = p[body_at:body_at + sm.start()]
        # an INDIRECT /Length (`12 0 R`) must not be read as a byte
        # count — fall back to the plain endobj scan (the documented
        # indirect-length seam)
        ln = None
        if re.search(rb"/Length\s+\d+\s+\d+\s+R", head) is None:
            ln = _dict_int(head, "Length")
        if ln is not None and ln <= len(p):
            end = p.find(b"endobj", body_at + sm.end() + ln)
            if end >= 0:
                return p[body_at:end]
            # tolerate a wrong /Length via the plain scan below
    if plain_end < 0:
        return None
    return p[body_at:plain_end]


def _fetch_obj(
    p: bytes, offsets: dict[int, _XrefEntry], num: Optional[int],
    _depth: int = 0,
) -> Optional[bytes]:
    """Resolve object ``num`` through the xref entries: a direct byte
    offset (type 1) or an object-stream member (type 2 — the ObjStm is
    fetched, inflated, and sliced by its /First header)."""
    if num is None or _depth > 2:
        return None
    e = offsets.get(num)
    if e is None:
        return None
    if isinstance(e, tuple):
        stm_num, idx = e
        stm = _fetch_obj(p, offsets, stm_num, _depth + 1)
        if stm is None:
            return None
        n = _dict_int(stm[:1024], "N")
        first = _dict_int(stm[:1024], "First")
        if n is None or first is None or idx >= n or n > 1 << 20:
            return None
        data = _stream_payload(stm)
        if data is None or first > len(data):
            return None
        pairs = re.findall(rb"(\d+)\s+(\d+)", data[:first])
        if len(pairs) < n:
            return None
        start = int(pairs[idx][1])
        end = int(pairs[idx + 1][1]) if idx + 1 < n else len(data) - first
        if start > end or first + end > len(data):
            return None
        return data[first + start:first + end]
    return _obj_at(p, e)


def _info_text(obj: bytes, key: str) -> Optional[str]:
    """A text-string value from a document-information dictionary
    body — literal or hex form, decoded per the text-string rules
    (UTF-16BE BOM honored); None when absent."""
    m = re.search(rf"/{key}\s*".encode() + rb"([(<])", obj)
    if m is None:
        return None
    if m.group(1) == b"(":
        raw, _end = _parse_string(obj, m.end() - 1)
    else:
        raw, _end = _parse_hex_string(obj, m.end() - 1)
    return _text_decode(raw)


def parse_pdf_metadata(payload: bytes | None) -> dict | None:
    """Header + cross-reference walk to ``{version, n_objects,
    n_pages, title, author}`` or None for anything not a well-formed
    PDF (bad header, truncated/corrupt xref, missing catalog/pages).
    Both classic tables and 1.5+ xref streams / object streams
    resolve; title/author come from the trailer's ``/Info``
    document-information dictionary (round 16 — the first fields a
    document-corpus curator filters on) and are None when absent."""
    if payload is None or len(payload) < 16:
        return None
    p = bytes(payload)
    hm = re.match(rb"%PDF-(\d+\.\d+)", p)
    if hm is None:
        return None
    loaded = _load_xref(p)
    if loaded is None:
        return None
    offsets, trailer = loaded
    size = _dict_int(trailer, "Size")
    root = _dict_ref(trailer, "Root")
    if size is None or root is None:
        return None
    catalog = _fetch_obj(p, offsets, root)
    if catalog is None:
        return None
    pages_ref = _dict_ref(catalog, "Pages")
    pages = _fetch_obj(p, offsets, pages_ref) if pages_ref else None
    if pages is None:
        return None
    count = _dict_int(pages, "Count")
    if count is None:
        return None
    info_obj = _fetch_obj(p, offsets, _dict_ref(trailer, "Info"))
    title = author = None
    if info_obj is not None:
        title = _info_text(info_obj, "Title")
        author = _info_text(info_obj, "Author")
    return {
        "version": hm.group(1).decode("ascii"),
        "n_objects": size - 1,
        "n_pages": count,
        "title": title,
        "author": author,
    }


# ---------------------------------------------------------------------------
# text extraction
# ---------------------------------------------------------------------------


_STR_ESCAPES = {
    b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\f",
    b"(": b"(", b")": b")", b"\\": b"\\",
}


def _parse_string(content: bytes, i: int) -> tuple[bytes, int]:
    """Decode the literal string starting at ``content[i] == b'('`` —
    full spec rules: nested balanced parens, named and octal escapes,
    escaped-newline continuation. Returns (decoded, end_index)."""
    n = len(content)
    depth = 1
    j = i + 1
    out = bytearray()
    while j < n and depth > 0:
        c = content[j:j + 1]
        if c == b"\\":
            nxt = content[j + 1:j + 2]
            if nxt in _STR_ESCAPES:
                out += _STR_ESCAPES[nxt]
                j += 2
            elif nxt and nxt in b"01234567":
                # octal digits ONLY — \8/\9 are NOT octal escapes and
                # fall through to the drop-the-backslash rule below
                # (PDF 32000-1 §7.3.4.2; r15 ADVICE: the old isdigit()
                # test sent them into int(b"", 8) → ValueError)
                k = j + 1
                oct_digits = b""
                while k < n and len(oct_digits) < 3 and \
                        content[k:k + 1] and \
                        content[k:k + 1] in b"01234567":
                    oct_digits += content[k:k + 1]
                    k += 1
                out.append(int(oct_digits, 8) & 0xFF)
                j = k
            elif nxt == b"\n":
                j += 2                            # line continuation
            else:
                j += 1                            # lone backslash: drop
        elif c == b"(":
            depth += 1
            out += c
            j += 1
        elif c == b")":
            depth -= 1
            if depth > 0:
                out += c
            j += 1
        else:
            out += c
            j += 1
    return bytes(out), j


_HEX_END_RE = re.compile(rb"[0-9A-Fa-f\s]*>")


def _parse_hex_string(content: bytes, i: int) -> tuple[bytes, int]:
    """Decode the hex string starting at ``content[i] == b'<'``
    (``<48 65 6C>`` — whitespace allowed between digits, odd length
    pads a trailing 0; PDF 32000-1 §7.3.4.3). Returns
    (decoded, end_index); an unterminated/ill-formed run decodes to
    the empty string at its break point."""
    m = _HEX_END_RE.match(content, i + 1)
    if m is None:
        return b"", i + 1
    digits = re.sub(rb"\s+", b"", content[i + 1:m.end() - 1])
    if len(digits) % 2:
        digits += b"0"
    try:
        return bytes.fromhex(digits.decode("ascii")), m.end()
    except ValueError:
        return b"", m.end()


_SHOW_OP_RE = re.compile(rb"\s*(Tj|')")
_TJ_OP_RE = re.compile(rb"\s*TJ")


def _text_decode(raw: bytes) -> str:
    """PDF text-string decode (PDF 32000-1 §7.9.2.2): a UTF-16BE BOM
    (``FE FF``) selects UTF-16BE — the form CID-font PDFs emit for
    non-ASCII text — otherwise bytes read as PDFDocEncoded/latin-1
    (the fixture tier and the bulk of crawl text). Ill-formed UTF-16
    decodes with replacement, never a task failure."""
    if raw[:2] == b"\xfe\xff":
        return raw[2:].decode("utf-16-be", "replace")
    return raw.decode("latin-1")


def _page_text(content: bytes) -> str:
    """Text-showing walk (linear state machine): ``(s) Tj`` and
    ``(s) '`` append s — and since round 16 the hex-string forms
    ``<hex> Tj`` / ``<hex> '`` likewise; a ``[(a) -120 <62>] TJ``
    array appends its strings concatenated (kerning numbers dropped;
    a bracket group NOT closed by TJ contributes nothing). ``<<``
    opens a dict, not a string, and is stepped over. Everything
    else — layout, positioning — is ignored by policy."""
    parts: list[str] = []
    pending: list[str] = []
    in_array = False
    i = 0
    n = len(content)
    while i < n:
        c = content[i:i + 1]
        if c == b"(":
            raw, end = _parse_string(content, i)
            if in_array:
                pending.append(_text_decode(raw))
            elif _SHOW_OP_RE.match(content, end):
                parts.append(_text_decode(raw))
            i = end
        elif c == b"<":
            if content[i + 1:i + 2] == b"<":
                i += 2                            # dict, not a string
                continue
            raw, end = _parse_hex_string(content, i)
            if in_array:
                pending.append(_text_decode(raw))
            elif _SHOW_OP_RE.match(content, end):
                parts.append(_text_decode(raw))
            i = end
        elif c == b"[":
            in_array = True
            pending = []
            i += 1
        elif c == b"]":
            if in_array and _TJ_OP_RE.match(content, i + 1):
                parts.extend(pending)
            in_array = False
            pending = []
            i += 1
        else:
            i += 1
    return "".join(parts)


def extract_pdf_text(payload: bytes | None) -> Optional[str]:
    """Document text: per page in ``/Kids`` order, the ``/Contents``
    stream (inflated when ``/FlateDecode``) through the text-showing
    walk; pages joined by newline. None for anything
    :func:`parse_pdf_metadata` rejects or a page/stream that does not
    resolve."""
    if payload is None:
        return None
    p = bytes(payload)
    meta = parse_pdf_metadata(p)
    if meta is None:
        return None
    loaded = _load_xref(p)
    offsets, trailer = loaded
    catalog = _fetch_obj(p, offsets, _dict_ref(trailer, "Root"))
    pages_obj = _fetch_obj(p, offsets, _dict_ref(catalog, "Pages"))
    kids_m = re.search(rb"/Kids\s*\[([^\]]*)\]", pages_obj)
    if kids_m is None:
        return None
    kid_nums = [int(x) for x in re.findall(rb"(\d+)\s+0\s+R",
                                           kids_m.group(1))]
    page_texts: list[str] = []
    for num in kid_nums:
        page = _fetch_obj(p, offsets, num)
        if page is None:
            return None
        cref = _dict_ref(page, "Contents")
        cobj = _fetch_obj(p, offsets, cref) if cref else None
        if cobj is None:
            return None
        data = _stream_payload(cobj)
        if data is None:
            return None
        page_texts.append(_page_text(data))
    return "\n".join(page_texts)


PDF_TEXT_SCHEMA = (
    "id long, valid boolean, version string, n_pages int, "
    "n_objects int, title string, author string, text string"
)


def _pdf_row(payload, with_text: bool = True):
    """PDF_TEXT_SCHEMA row (after id) of one payload; ``with_text=False``
    skips text extraction (text NULL). Catch-all like
    ``multimodal._auto_one``: a corrupt PDF among billions yields
    valid=false, never a task failure."""
    try:
        meta = parse_pdf_metadata(payload)
        if meta is not None:
            text = extract_pdf_text(payload) if with_text else None
            return (
                True, meta["version"], meta["n_pages"],
                meta["n_objects"], meta["title"], meta["author"], text,
            )
    except Exception:
        pass
    return (False, None, None, None, None, None, None)


def pdf_text_frame(
    df: DataFrame, id_col: str, payload_col: str
) -> DataFrame:
    """Arrow-batched PDF metadata + text extraction — one pass yields
    both tiers (metadata fields AND the extracted text), row-local,
    zero shuffles, corrupt → valid=false (so is a PDF whose text
    extraction raises)."""
    return _row_frame(df, id_col, payload_col, _pdf_row, PDF_TEXT_SCHEMA)


def read_pdf(spark, path: str) -> DataFrame:
    """Directory of ``*.pdf`` → documents-shaped frame ``(doc_id,
    path, valid, version, n_pages, n_objects, title, author, text)``:
    :func:`pdf_text_frame` over a binaryFile scan, keyed by the file
    path — the WARC/WET ingestion precedent (sources/warc.py) for the
    PDF half of a crawl. doc_id is a stable 64-bit hash of the path
    (xxhash64), the same identity rule read_wet uses for URI-keyed
    corpora."""
    from pyspark.sql import functions as F

    bins = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.pdf")
        .load(path)
    )
    return pdf_text_frame(bins, "path", "content").select(
        F.xxhash64(F.col("id")).alias("doc_id"),
        F.col("id").alias("path"),
        "valid", "version", "n_pages", "n_objects", "title", "author",
        "text",
    )
