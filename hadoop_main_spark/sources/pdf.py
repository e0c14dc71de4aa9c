"""PDF (ISO 32000-1) container walk + literal-text extraction — the
document-ingestion tier next to WARC (sources/warc.py): web-scale
training corpora are full of PDFs, and the first pipeline stage is
exactly this — verify the container, walk the cross-reference table,
classify objects, and pull the page text out of the content streams.

Scope (honest): CLASSIC xref tables and UNCOMPRESSED content streams —
the structural walk every PDF has. Cross-reference STREAMS (PDF 1.5
/XRef) and /FlateDecode content inflate via zlib when present; other
filters (DCT, LZW, ...) are counted but their text is not extracted
(``n_opaque_streams``) — the same honest boundary as the compressed
audio/video sample decoders in operators/multimodal.py.

Reference analog: none in Hadoop core (north-star scope); the format
is the public ISO 32000-1 spec: ``%PDF-`` header line, body of
``N G obj ... endobj`` objects (dictionaries ``<< ... >>``, streams
``stream..endstream`` with /Length), ``xref`` section of fixed-width
20-byte entries, ``trailer`` dict, ``startxref`` offset, ``%%EOF``.

STRICT ValueError discipline like warc.py / the multimodal walkers:
bad magic, missing %%EOF, an xref offset that doesn't land on an
``obj`` keyword, or a truncated stream raises — 'not PDF' vs 'PDF'
must be deterministic.
"""

from __future__ import annotations

import re
import zlib

from pyspark.sql import DataFrame

from hadoop_main_spark.operators.multimodal import map_payloads

_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b")
_TYPE_RE = re.compile(rb"/Type\s*/(\w+)")
_LENGTH_RE = re.compile(rb"/Length\s+(\d+)\b")
# an indirect /Length ("/Length 8 0 R") must be REJECTED loudly, not
# misread as the literal 8 — resolving it needs a second xref pass we
# deliberately don't do (same honest-boundary discipline as /XRef)
_LENGTH_REF_RE = re.compile(rb"/Length\s+\d+\s+\d+\s+R\b")
_FILTER_RE = re.compile(rb"/Filter\s*/(\w+)")
# PDF 1.5 cross-reference STREAM (/Type /XRef, ISO 32000-1 §7.5.8)
# and object stream (/Type /ObjStm, §7.5.7) dictionary keys
_W_RE = re.compile(rb"/W\s*\[\s*(\d+)\s+(\d+)\s+(\d+)\s*\]")
_INDEX_RE = re.compile(rb"/Index\s*\[([^\]]*)\]")
_SIZE_RE = re.compile(rb"/Size\s+(\d+)\b")
_N_RE = re.compile(rb"/N\s+(\d+)\b")
_FIRST_RE = re.compile(rb"/First\s+(\d+)\b")
_PREV_RE = re.compile(rb"/Prev\s+(\d+)\b")
# literal strings shown by Tj / ' / " and the arrays TJ shows; PDF
# literal strings are ( ... ) with \-escapes
_TEXT_BLOCK_RE = re.compile(rb"BT(.*?)ET", re.S)
_TJ_RE = re.compile(rb"\(((?:\\.|[^\\()])*)\)\s*(?:Tj|')", re.S)

_ESC = {
    b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\f",
    b"(": b"(", b")": b")", b"\\": b"\\",
}


def _unescape(lit: bytes) -> bytes:
    out = bytearray()
    i = 0
    while i < len(lit):
        c = lit[i : i + 1]
        if c == b"\\" and i + 1 < len(lit):
            nxt = lit[i + 1 : i + 2]
            if nxt.isdigit():  # \ddd octal (1-3 digits)
                j = i + 1
                while j < len(lit) and j < i + 4 and lit[j : j + 1].isdigit():
                    j += 1
                out.append(int(lit[i + 1 : j], 8) & 0xFF)
                i = j
                continue
            out += _ESC.get(nxt, nxt)
            i += 2
            continue
        out += c
        i += 1
    return bytes(out)


def pdf_escape(s: bytes) -> bytes:
    """Fixture-side literal-string escape: the three chars ISO 32000
    §7.3.4.2 REQUIRES escaping."""
    return s.replace(b"\\", b"\\\\").replace(b"(", b"\\(").replace(b")", b"\\)")


def parse_pdf(p: bytes) -> dict:
    """Walk the container: verify header/%%EOF, follow startxref to the
    xref table, visit every in-use object AT ITS RECORDED OFFSET
    (a wrong offset raises — the xref is load-bearing, not
    decorative), classify types, and extract the text shown by the
    page content streams' Tj/' operators in object order.

    Returns dict(n_objects, n_pages, n_streams, n_opaque_streams,
    stream_bytes, text)."""
    if not p.startswith(b"%PDF-"):
        raise ValueError("pdf: bad header")
    tail = p.rstrip()
    if not tail.endswith(b"%%EOF"):
        raise ValueError("pdf: missing %%EOF")
    sx = tail.rfind(b"startxref")
    if sx < 0:
        raise ValueError("pdf: missing startxref")
    tok = tail[sx + len(b"startxref"):].split()
    if not tok or not tok[0].isdigit():
        raise ValueError("pdf: bad startxref offset")
    xoff = int(tok[0])
    in_objstm: list[tuple[int, int, int]] = []  # (objstm_num, idx, objnum)
    if p[xoff:].startswith(b"xref"):
        offsets = _parse_xref_table(p, xoff)
    elif _OBJ_RE.match(p, xoff):
        offsets, in_objstm = _parse_xref_stream(p, xoff)
    else:
        raise ValueError(
            "pdf: startxref lands on neither an xref table nor an"
            " xref stream object"
        )
    if not offsets:
        raise ValueError("pdf: xref lists no in-use objects")
    n_pages = n_streams = n_opaque = 0
    stream_bytes = 0
    texts: list[tuple[int, bytes]] = []
    obj_off: dict[int, int] = {}
    for off, want_num in offsets:
        num, ddict, data, ln, opaque = _object_at(p, off)
        if want_num is not None and num != want_num:
            raise ValueError(
                f"pdf: xref stream says object {want_num} at {off}, "
                f"found {num}"
            )
        obj_off[num] = off
        tm = _TYPE_RE.search(ddict)
        if tm and tm.group(1) == b"Page":
            n_pages += 1
        if ln or data is not None or opaque:
            n_streams += 1
            stream_bytes += ln
            if opaque:
                n_opaque += 1
            elif data is not None:
                for bt in _TEXT_BLOCK_RE.finditer(data):
                    for lit in _TJ_RE.finditer(bt.group(1)):
                        texts.append((num, _unescape(lit.group(1))))
    # PDF 1.5 object streams: visit every compressed object inside its
    # /ObjStm container (ISO §7.5.7 — N pairs of "objnum offset" then
    # the objects back to back from /First; streams are not allowed
    # inside, so these visits only classify dictionaries)
    by_stm: dict[int, list[tuple[int, int]]] = {}
    for stm_num, idx, objnum in in_objstm:
        by_stm.setdefault(stm_num, []).append((idx, objnum))
    for stm_num, members in by_stm.items():
        if stm_num not in obj_off:
            raise ValueError(f"pdf: object stream {stm_num} not in xref")
        num, ddict, data, ln, opaque = _object_at(p, obj_off[stm_num])
        tm = _TYPE_RE.search(ddict)
        if not (tm and tm.group(1) == b"ObjStm") or data is None:
            raise ValueError(f"pdf: object {stm_num} is not an ObjStm")
        nm, fm = _N_RE.search(ddict), _FIRST_RE.search(ddict)
        if not nm or not fm:
            raise ValueError("pdf: ObjStm missing /N or /First")
        n, first = int(nm.group(1)), int(fm.group(1))
        head = data[:first].split()
        if len(head) < 2 * n:
            raise ValueError("pdf: truncated ObjStm header")
        pairs = [
            (int(head[2 * k]), int(head[2 * k + 1])) for k in range(n)
        ]
        for idx, objnum in members:
            if idx >= n:
                raise ValueError(
                    f"pdf: xref points at ObjStm index {idx} of {n}"
                )
            if pairs[idx][0] != objnum:
                raise ValueError(
                    f"pdf: ObjStm header says object {pairs[idx][0]} at "
                    f"index {idx}, xref says {objnum}"
                )
            lo = first + pairs[idx][1]
            hi = first + pairs[idx + 1][1] if idx + 1 < n else len(data)
            sub = data[lo:hi]
            tm = _TYPE_RE.search(sub)
            if tm and tm.group(1) == b"Page":
                n_pages += 1
    texts.sort(key=lambda t: t[0])  # object-number order == page order here
    return {
        "n_objects": len(offsets) + len(in_objstm),
        "n_pages": n_pages,
        "n_streams": n_streams,
        "n_opaque_streams": n_opaque,
        "stream_bytes": stream_bytes,
        "text": b"".join(t for _, t in texts).decode("latin-1"),
    }


def _parse_xref_table(p: bytes, xoff: int) -> list[tuple[int, int | None]]:
    """Classic xref table: subsections of fixed-width 20-byte rows.
    Returns (offset, expected_objnum) rows — the table form carries
    the object number implicitly (start + row index), verified against
    the object header like the stream form."""
    i = xoff + len(b"xref")
    offsets: list[tuple[int, int | None]] = []
    while True:
        m = re.match(rb"\s*(\d+)\s+(\d+)\s*[\r\n]+", p[i:])
        if not m:
            break
        start, count = int(m.group(1)), int(m.group(2))
        i += m.end()
        for k in range(count):
            row = p[i : i + 20]
            if len(row) < 18:
                raise ValueError("pdf: truncated xref row")
            if not re.match(rb"\d{10} \d{5} [nf]", row):
                raise ValueError(f"pdf: bad xref row {row!r}")
            if row[17:18] == b"n":
                offsets.append((int(row[:10]), start + k))
            i += 20
        if start == 0 and count == 0:
            break
    return offsets


def _parse_xref_stream(
    p: bytes, xoff: int
) -> tuple[list[tuple[int, int | None]], list[tuple[int, int, int]]]:
    """PDF 1.5 cross-reference stream (ISO 32000-1 §7.5.8): the xref
    is itself a stream object of fixed-width binary rows. /W gives the
    three field widths (type, field2, field3, big-endian); /Index the
    (start, count) subsections (default [0 /Size]). Type 1 rows are
    plain offsets; type 2 rows live inside an object stream as
    (container objnum, index). Incremental-update chains (/Prev) are
    out of scope and raise — the same honest boundary as indirect
    /Length."""
    num, ddict, data, _ln, opaque = _object_at(p, xoff)
    tm = _TYPE_RE.search(ddict)
    if not (tm and tm.group(1) == b"XRef"):
        raise ValueError("pdf: startxref object is not /Type /XRef")
    if opaque or data is None:
        raise ValueError("pdf: xref stream has no decodable data")
    if _PREV_RE.search(ddict):
        raise ValueError("pdf: incremental xref chains (/Prev) unsupported")
    wm = _W_RE.search(ddict)
    szm = _SIZE_RE.search(ddict)
    if not wm or not szm:
        raise ValueError("pdf: xref stream missing /W or /Size")
    w1, w2, w3 = (int(wm.group(i)) for i in (1, 2, 3))
    size = int(szm.group(1))
    im = _INDEX_RE.search(ddict)
    if im:
        nums = [int(x) for x in im.group(1).split()]
        if len(nums) % 2:
            raise ValueError("pdf: odd /Index array")
        sections = list(zip(nums[::2], nums[1::2]))
    else:
        sections = [(0, size)]
    rw = w1 + w2 + w3
    offsets: list[tuple[int, int | None]] = []
    in_objstm: list[tuple[int, int, int]] = []
    pos = 0
    for start, count in sections:
        for k in range(count):
            row = data[pos : pos + rw]
            if len(row) < rw:
                raise ValueError("pdf: truncated xref stream row")
            pos += rw
            # w1 == 0 means "type defaults to 1" (ISO table 17)
            typ = int.from_bytes(row[:w1], "big") if w1 else 1
            f2 = int.from_bytes(row[w1 : w1 + w2], "big")
            f3 = int.from_bytes(row[w1 + w2 :], "big")
            objnum = start + k
            if typ == 0:
                continue  # free entry
            if typ == 1:
                offsets.append((f2, objnum))
            elif typ == 2:
                in_objstm.append((f2, f3, objnum))
            else:
                raise ValueError(f"pdf: unknown xref entry type {typ}")
    return offsets, in_objstm


def _object_at(
    p: bytes, off: int
) -> tuple[int, bytes, bytes | None, int, bool]:
    """Read the object AT ITS RECORDED OFFSET (a wrong offset raises —
    the xref is load-bearing).  Returns (objnum, dict_region,
    decoded_stream_or_None, declared_stream_length, opaque_filter):
    /Type and /Length are read only from the dictionary region (the
    raw stream payload could spoof them), FlateDecode inflates, other
    filters report opaque=True with data=None."""
    m = _OBJ_RE.match(p, off)
    if not m:
        raise ValueError(f"pdf: xref offset {off} is not an object")
    end = p.find(b"endobj", m.end())
    if end < 0:
        raise ValueError("pdf: object missing endobj")
    body = p[m.end():end]
    smark = body.find(b"stream")
    ddict = body[:smark] if smark >= 0 else body
    if smark < 0:
        return int(m.group(1)), ddict, None, 0, False
    if _LENGTH_REF_RE.search(ddict):
        raise ValueError("pdf: indirect /Length reference unsupported")
    lm = _LENGTH_RE.search(ddict)
    if not lm:
        raise ValueError("pdf: stream missing /Length")
    ln = int(lm.group(1))
    # stream keyword is followed by CRLF or LF (ISO §7.3.8.1)
    data_at = smark + len(b"stream")
    if body[data_at : data_at + 2] == b"\r\n":
        data_at += 2
    elif body[data_at : data_at + 1] == b"\n":
        data_at += 1
    data = body[data_at : data_at + ln]
    if len(data) < ln:
        raise ValueError("pdf: truncated stream")
    fm = _FILTER_RE.search(ddict)
    if fm:
        if fm.group(1) == b"FlateDecode":
            try:
                data = zlib.decompress(data)
            except zlib.error as e:
                raise ValueError(f"pdf: bad flate stream: {e}") from e
        else:
            return int(m.group(1)), ddict, None, ln, True
    return int(m.group(1)), ddict, data, ln, False


def pdf_encode(text: str, chars_per_page: int = 256) -> bytes:
    """Fixture-side writer: a minimal REAL multi-page PDF (header,
    catalog, page tree, one page + one uncompressed content stream per
    ``chars_per_page`` chunk of ``text``, classic xref with TRUE byte
    offsets, trailer, startxref) — parse_pdf must walk it back
    exactly. Deterministic: object numbering and layout depend only on
    the text."""
    chunks = [
        text[i : i + chars_per_page]
        for i in range(0, max(len(text), 1), chars_per_page)
    ] or [""]
    npg = len(chunks)
    # object numbers: 1 catalog, 2 pages-tree, then per page i:
    # (3+2i) page, (4+2i) content
    objs: list[bytes] = []
    kids = b" ".join(b"%d 0 R" % (3 + 2 * i) for i in range(npg))
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objs.append(
        b"<< /Type /Pages /Kids [" + kids + b"] /Count %d >>" % npg
    )
    for i, chunk in enumerate(chunks):
        objs.append(
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Contents %d 0 R >>" % (4 + 2 * i)
        )
        content = (
            b"BT /F1 12 Tf 72 720 Td ("
            + pdf_escape(chunk.encode("latin-1"))
            + b") Tj ET"
        )
        objs.append(
            b"<< /Length %d >>\nstream\n" % len(content)
            + content
            + b"\nendstream"
        )
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for num, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % num + body + b"\nendobj\n"
    xoff = len(out)
    out += b"xref\n0 %d\n" % (len(objs) + 1)
    out += b"0000000000 65535 f \n"
    for off in offsets:
        out += b"%010d 00000 n \n" % off
    out += (
        b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF"
        % (len(objs) + 1, xoff)
    )
    return bytes(out)


def pdf15_encode(text: str, chars_per_page: int = 256) -> bytes:
    """Fixture-side writer for the PDF 1.5 form (how most post-2005
    PDFs in a real crawl are written, ISO 32000-1 §7.5.7/§7.5.8): the
    structure objects (catalog, page tree, page dicts) live COMPRESSED
    inside one /ObjStm, the per-page content streams stay regular
    objects, and the cross reference is a binary /Type /XRef STREAM
    (W=[1 4 2], type-2 rows pointing into the ObjStm, trailer keys
    merged into its dict) instead of a classic table.  The ObjStm is
    FlateDecode-compressed (exercising the inflate path on a
    structure stream); the xref stream is raw so its /Length is the
    row arithmetic.  parse_pdf must walk it back exactly; object
    numbering matches pdf_encode (content i = object 4+2i), so text
    order is identical across the two forms."""
    chunks = [
        text[i : i + chars_per_page]
        for i in range(0, max(len(text), 1), chars_per_page)
    ] or [""]
    npg = len(chunks)
    stm_num, xref_num = 3 + 2 * npg, 4 + 2 * npg
    kids = b" ".join(b"%d 0 R" % (3 + 2 * i) for i in range(npg))
    packed: list[tuple[int, bytes]] = [
        (1, b"<< /Type /Catalog /Pages 2 0 R >>"),
        (2, b"<< /Type /Pages /Kids [" + kids + b"] /Count %d >>" % npg),
    ]
    for i in range(npg):
        packed.append(
            (
                3 + 2 * i,
                b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
                b"/Contents %d 0 R >>" % (4 + 2 * i),
            )
        )
    # ObjStm payload: "objnum offset" header pairs, then the objects
    heads, bodies, rel = [], [], 0
    for num, body in packed:
        heads.append(b"%d %d" % (num, rel))
        bodies.append(body)
        rel += len(body) + 1  # "\n" joiner
    header = b" ".join(heads) + b"\n"
    objstm_payload = header + b"\n".join(bodies) + b"\n"
    objstm_z = zlib.compress(objstm_payload)

    out = bytearray(b"%PDF-1.5\n")
    offs: dict[int, int] = {}
    for i, chunk in enumerate(chunks):
        content = (
            b"BT /F1 12 Tf 72 720 Td ("
            + pdf_escape(chunk.encode("latin-1"))
            + b") Tj ET"
        )
        num = 4 + 2 * i
        offs[num] = len(out)
        out += (
            b"%d 0 obj\n<< /Length %d >>\nstream\n" % (num, len(content))
            + content
            + b"\nendstream\nendobj\n"
        )
    offs[stm_num] = len(out)
    out += (
        b"%d 0 obj\n<< /Type /ObjStm /N %d /First %d "
        b"/Filter /FlateDecode /Length %d >>\nstream\n"
        % (stm_num, len(packed), len(header), len(objstm_z))
        + objstm_z
        + b"\nendstream\nendobj\n"
    )
    # xref stream rows (W = [1 4 2]) for objects 0..xref_num in order
    size = xref_num + 1
    rows = bytearray()
    for num in range(size):
        if num == 0:
            rows += bytes([0]) + (0).to_bytes(4, "big") + (65535).to_bytes(2, "big")
        elif num < stm_num and num % 2 == 1:  # catalog/pages/page dicts
            idx = 0 if num == 1 else (1 if num == 2 else (num - 3) // 2 + 2)
            rows += bytes([2]) + stm_num.to_bytes(4, "big") + idx.to_bytes(2, "big")
        elif num == 2:
            rows += bytes([2]) + stm_num.to_bytes(4, "big") + (1).to_bytes(2, "big")
        else:  # content streams, the ObjStm, the xref stream itself
            off = offs[num] if num != xref_num else len(out)
            rows += bytes([1]) + off.to_bytes(4, "big") + (0).to_bytes(2, "big")
    xoff = len(out)
    out += (
        b"%d 0 obj\n<< /Type /XRef /Size %d /W [1 4 2] /Root 1 0 R "
        b"/Length %d >>\nstream\n" % (xref_num, size, len(rows))
        + rows
        + b"\nendstream\nendobj\n"
    )
    out += b"startxref\n%d\n%%%%EOF" % xoff
    return bytes(out)


def pdf_meta(media: DataFrame) -> DataFrame:
    """(media_id, payload) -> per-document container metadata + the
    extracted text (one Arrow-batched map_payloads pass, the warc_records
    shape). Bad payloads take one n_objects=-1 row (the multimodal
    bad-record policy: classify, never crash the corpus pass)."""
    schema = (
        "media_id long, n_objects long, n_pages long, n_streams long, "
        "n_opaque_streams long, stream_bytes long, text string"
    )

    return map_payloads(
        media,
        lambda p: [tuple(parse_pdf(p).values())],  # dict in schema order
        [(-1, 0, 0, 0, 0, "")],
        schema,
    )
