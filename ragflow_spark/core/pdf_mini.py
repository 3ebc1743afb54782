"""Minimal pure-Python PDF text layer.

The reference's no-layout PDF path is ``PlainParser``
(deepdoc/parser/pdf_parser.py:1142-1168): pypdf ``extract_text()`` per page,
split on newlines, emitted as ``[(line, "")]`` sections plus a pypdf outline
walk. pypdf / pdfplumber are not installed here, so this module provides:

- ``build_simple_pdf(pages)``: a deterministic single-font PDF writer used
  by the fixture generator (uncompressed or Flate content streams, one
  ``Tj`` per line) — so the extractor below can be tested honestly against
  real PDF bytes it did not itself produce the parse for.
- ``extract_text_lines(blob)``: a text extractor for text-layer PDFs:
  walks the page tree depth-first (/Root → /Pages → /Kids → /Contents,
  handing inherited /Resources and /MediaBox down), decodes stream
  filter chains (FlateDecode incl. PNG predictors, ASCIIHexDecode),
  expands PDF 1.5 object streams (/Type /ObjStm, where modern writers
  pack every dict), tolerates non-zero generation numbers and /Contents
  arrays, and evaluates BT/ET text blocks (Tj, TJ, ', ", literal AND hex
  strings) with per-font decoding: /ToUnicode CMaps (bfchar + bfrange),
  Identity-H Type0 2-byte codes, latin-1 simple fonts. ``extract_boxes``,
  ``page_heights``, ``page_count`` and ``extract_page_images`` read the
  same page walk, and the box extractor the same content interpreter.
  Scanned (image-only) PDFs give empty text pages; the template tier
  then OCRs the page rasters from ``extract_page_images``
  (``pdf_layout.scanned_pdf_pages``).
- ``build_cid_pdf`` / ``build_objstm_pdf``: deterministic writers emitting
  exactly those wild-PDF shapes (CID hex text + generated ToUnicode;
  ObjStm + XRef stream + filter chains + gen numbers) so the extractor is
  tested against real bytes whose parse it does not itself define.

The full layout-analysis pipeline (§3.3 of SURVEY.md) requires ONNX models
that are not vendored in the reference repo either; per SURVEY §7.1.6 the
vision backend is pluggable and absent in this sandbox.
"""

from __future__ import annotations

import re
import zlib


class UnsupportedPdfError(ValueError):
    pass


# ------------------------------------------------------------------ writer


def _esc(s: str) -> str:
    return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")


def build_simple_pdf(pages: list[list[str]], compress: bool = True,
                     outlines: list[tuple[str, int]] | None = None) -> bytes:
    """Deterministic PDF with one Helvetica text column per page; each list
    entry becomes one text line (one ``Tj`` operator). ``outlines`` is an
    optional bookmark list of (title, depth) pairs serialized as a real
    /Outlines tree (First/Next/Parent links)."""
    content_pages = []
    for lines in pages:
        ops = ["BT", "/F1 11 Tf", "1 0 0 1 72 770 Tm", "13 TL"]
        for ln in lines:
            ops.append(f"({_esc(ln)}) Tj")
            ops.append("T*")
        ops.append("ET")
        content_pages.append(ops)
    return _assemble_pdf(content_pages, compress, outlines)


def build_positioned_pdf(pages: list[list[tuple]],
                         compress: bool = True) -> bytes:
    """PDF writer with explicit (x, y, text[, gray]) placement per line (y
    is the baseline in PDF bottom-up coordinates) — used to synthesize
    multi-column / table fixtures. An optional 4th element sets the gray
    fill level (``1.0`` = white-on-white invisible text, for F2 tests)."""
    content_pages = []
    for items in pages:
        ops = ["BT", "/F1 11 Tf"]
        gray = 0.0
        for item in items:
            x, y, text = item[0], item[1], item[2]
            g = item[3] if len(item) > 3 else 0.0
            if g != gray:
                ops.append(f"{g:g} g")
                gray = g
            ops.append(f"1 0 0 1 {x:g} {y:g} Tm")
            ops.append(f"({_esc(text)}) Tj")
        ops.append("ET")
        content_pages.append(ops)
    return _assemble_pdf(content_pages, compress)


def _assemble_pdf(content_pages: list[list[str]], compress: bool,
                  outlines: list[tuple[str, int]] | None = None) -> bytes:
    objects: list[bytes] = []

    def add(obj: bytes) -> int:
        objects.append(obj)
        return len(objects)

    font_num = add(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    content_nums = []
    for ops in content_pages:
        data = "\n".join(ops).encode("latin-1", errors="replace")
        if compress:
            comp = zlib.compress(data, 9)
            stream = (
                b"<< /Length " + str(len(comp)).encode()
                + b" /Filter /FlateDecode >>\nstream\n" + comp + b"\nendstream"
            )
        else:
            stream = (
                b"<< /Length " + str(len(data)).encode()
                + b" >>\nstream\n" + data + b"\nendstream"
            )
        content_nums.append(add(stream))
    page_nums = []
    pages_num_placeholder = len(objects) + len(content_pages) + 1
    for cn in content_nums:
        page_nums.append(add((
            f"<< /Type /Page /Parent {pages_num_placeholder} 0 R "
            f"/MediaBox [0 0 612 792] "
            f"/Resources << /Font << /F1 {font_num} 0 R >> >> "
            f"/Contents {cn} 0 R >>"
        ).encode()))
    kids = " ".join(f"{n} 0 R" for n in page_nums)
    pages_num = add(
        f"<< /Type /Pages /Kids [{kids}] /Count {len(page_nums)} >>".encode()
    )
    assert pages_num == pages_num_placeholder

    outline_ref = ""
    if outlines:
        # numbers are pre-computed because the tree links are circular
        root_num = len(objects) + 1
        item_nums = [root_num + 1 + i for i in range(len(outlines))]
        parent = []
        stack: list[int] = []
        for i, (_t, d) in enumerate(outlines):
            while stack and outlines[stack[-1]][1] >= d:
                stack.pop()
            parent.append(stack[-1] if stack else -1)
            stack.append(i)
        children: dict[int, list[int]] = {}
        for i, p in enumerate(parent):
            children.setdefault(p, []).append(i)
        top = children.get(-1, [])
        add((
            f"<< /Type /Outlines /First {item_nums[top[0]]} 0 R "
            f"/Last {item_nums[top[-1]]} 0 R /Count {len(outlines)} >>"
        ).encode())
        for i, (title, _d) in enumerate(outlines):
            sibs = children.get(parent[i], [])
            k = sibs.index(i)
            parts = [f"/Title ({_esc(title)})"]
            parts.append(
                f"/Parent {root_num if parent[i] == -1 else item_nums[parent[i]]} 0 R"
            )
            if k > 0:
                parts.append(f"/Prev {item_nums[sibs[k - 1]]} 0 R")
            if k + 1 < len(sibs):
                parts.append(f"/Next {item_nums[sibs[k + 1]]} 0 R")
            kids_i = children.get(i, [])
            if kids_i:
                parts.append(f"/First {item_nums[kids_i[0]]} 0 R")
                parts.append(f"/Last {item_nums[kids_i[-1]]} 0 R")
            add(("<< " + " ".join(parts) + " >>").encode())
        outline_ref = f" /Outlines {root_num} 0 R"

    catalog_num = add(
        f"<< /Type /Catalog /Pages {pages_num} 0 R{outline_ref} >>".encode()
    )
    out = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    offsets = [0]
    for i, obj in enumerate(objects, start=1):
        offsets.append(len(out))
        out += f"{i} 0 obj\n".encode() + obj + b"\nendobj\n"
    xref_at = len(out)
    out += f"xref\n0 {len(objects) + 1}\n".encode()
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += f"{off:010d} 00000 n \n".encode()
    out += (
        f"trailer\n<< /Size {len(objects) + 1} /Root {catalog_num} 0 R >>\n"
        f"startxref\n{xref_at}\n%%EOF\n"
    ).encode()
    return bytes(out)


def build_cid_pdf(pages: list[list[str]], bad_tounicode: bool = False
                  ) -> bytes:
    """Deterministic Type0/CID PDF: text is shown as 2-byte HEX strings
    through an /Identity-H composite font carrying a generated /ToUnicode
    CMap (bfrange for runs of ≥3 consecutive codepoints, bfchar for the
    rest — so both CMap forms are exercised by real bytes). This is the
    shape pypdf sees for virtually every non-latin wild PDF.
    ``bad_tounicode=True`` truncates the CMap stream to exercise the
    decoder's fallback path."""
    chars = sorted({c for lines in pages for ln in lines for c in ln})
    code_of: dict[str, int] = {c: i + 1 for i, c in enumerate(chars)}
    # runs of consecutive codepoints → bfrange (codes are consecutive by
    # construction since chars are sorted)
    ranges: list[tuple[int, int, int]] = []  # (code_lo, code_hi, cp_lo)
    singles: list[tuple[int, int]] = []      # (code, cp)
    i = 0
    while i < len(chars):
        j = i
        while (j + 1 < len(chars)
               and ord(chars[j + 1]) == ord(chars[j]) + 1):
            j += 1
        if j - i + 1 >= 3:
            ranges.append((i + 1, j + 1, ord(chars[i])))
        else:
            for k in range(i, j + 1):
                singles.append((k + 1, ord(chars[k])))
        i = j + 1

    def u16(cp: int) -> str:
        return "".join(f"{b:02X}" for b in chr(cp).encode("utf-16-be"))

    cmap_lines = [
        "/CIDInit /ProcSet findresource begin",
        "12 dict begin begincmap",
        "1 begincodespacerange", "<0000> <FFFF>", "endcodespacerange",
    ]
    if singles:
        cmap_lines.append(f"{len(singles)} beginbfchar")
        cmap_lines += [f"<{c:04X}> <{u16(cp)}>" for c, cp in singles]
        cmap_lines.append("endbfchar")
    if ranges:
        cmap_lines.append(f"{len(ranges)} beginbfrange")
        cmap_lines += [
            f"<{lo:04X}> <{hi:04X}> <{u16(cp)}>" for lo, hi, cp in ranges
        ]
        cmap_lines.append("endbfrange")
    cmap_lines += ["endcmap", "CMapName currentdict /CMap defineresource pop",
                   "end end"]
    cmap = "\n".join(cmap_lines).encode("ascii")
    if bad_tounicode:
        cmap = cmap[: len(cmap) // 3]

    objects: list[bytes] = []

    def add(obj: bytes) -> int:
        objects.append(obj)
        return len(objects)

    comp = zlib.compress(cmap, 9)
    cmap_num = add(b"<< /Length " + str(len(comp)).encode()
                   + b" /Filter /FlateDecode >>\nstream\n" + comp
                   + b"\nendstream")
    desc_num = add(b"<< /Type /Font /Subtype /CIDFontType2"
                   b" /BaseFont /Synth /CIDSystemInfo << /Registry (Adobe)"
                   b" /Ordering (Identity) /Supplement 0 >>"
                   b" /CIDToGIDMap /Identity >>")
    font_num = add((
        f"<< /Type /Font /Subtype /Type0 /BaseFont /Synth"
        f" /Encoding /Identity-H /DescendantFonts [{desc_num} 0 R]"
        f" /ToUnicode {cmap_num} 0 R >>").encode())
    content_nums = []
    for lines in pages:
        ops = ["BT", "/F1 11 Tf", "1 0 0 1 72 770 Tm", "13 TL"]
        for ln in lines:
            hexstr = "".join(f"{code_of[c]:04X}" for c in ln)
            ops.append(f"<{hexstr}> Tj")
            ops.append("T*")
        ops.append("ET")
        data = "\n".join(ops).encode("ascii")
        comp = zlib.compress(data, 9)
        content_nums.append(add(
            b"<< /Length " + str(len(comp)).encode()
            + b" /Filter /FlateDecode >>\nstream\n" + comp + b"\nendstream"))
    pages_num_placeholder = len(objects) + len(pages) + 1
    page_nums = [add((
        f"<< /Type /Page /Parent {pages_num_placeholder} 0 R"
        f" /MediaBox [0 0 612 792]"
        f" /Resources << /Font << /F1 {font_num} 0 R >> >>"
        f" /Contents {cn} 0 R >>").encode()) for cn in content_nums]
    kids = " ".join(f"{n} 0 R" for n in page_nums)
    pages_num = add(
        f"<< /Type /Pages /Kids [{kids}] /Count {len(page_nums)} >>".encode())
    assert pages_num == pages_num_placeholder
    catalog = add(f"<< /Type /Catalog /Pages {pages_num} 0 R >>".encode())
    out = bytearray(b"%PDF-1.6\n%\xe2\xe3\xcf\xd3\n")
    offsets = [0]
    for i, obj in enumerate(objects, start=1):
        offsets.append(len(out))
        out += f"{i} 0 obj\n".encode() + obj + b"\nendobj\n"
    xref_at = len(out)
    out += f"xref\n0 {len(objects) + 1}\n".encode()
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += f"{off:010d} 00000 n \n".encode()
    out += (f"trailer\n<< /Size {len(objects) + 1} /Root {catalog} 0 R >>\n"
            f"startxref\n{xref_at}\n%%EOF\n").encode()
    return bytes(out)


def build_objstm_pdf(pages: list[list[str]]) -> bytes:
    """Deterministic PDF 1.5-style file: every non-stream object (font,
    page dicts, pages node, catalog) lives inside ONE compressed /ObjStm,
    the cross-reference is a real /XRef STREAM (W [1 2 2] columns, PNG
    up-predictor /Predictor 12), the first content stream is filtered
    through an [/ASCIIHexDecode /FlateDecode] CHAIN, and content + xref
    objects carry a non-zero GENERATION number — the four wild-PDF
    features pypdf handles that a naive classic-xref parser chokes on."""
    import binascii

    # ---- object numbering: 1..P content streams, then packed dicts,
    # then the ObjStm itself, then the XRef stream
    n_pages = len(pages)
    content_nums = list(range(1, n_pages + 1))
    font_num = n_pages + 1
    page_dict_nums = [n_pages + 2 + i for i in range(n_pages)]
    pages_num = n_pages + 2 + n_pages
    catalog_num = pages_num + 1
    objstm_num = catalog_num + 1
    xref_num = objstm_num + 1

    packed: list[tuple[int, bytes]] = [
        (font_num,
         b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"),
    ]
    for pd, cn in zip(page_dict_nums, content_nums):
        gen = 1 if cn == content_nums[0] else 0
        packed.append((pd, (
            f"<< /Type /Page /Parent {pages_num} 0 R"
            f" /MediaBox [0 0 612 792]"
            f" /Resources << /Font << /F1 {font_num} 0 R >> >>"
            f" /Contents {cn} {gen} R >>").encode()))
    kids = " ".join(f"{n} 0 R" for n in page_dict_nums)
    packed.append((pages_num, (
        f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>").encode()))
    packed.append((catalog_num, (
        f"<< /Type /Catalog /Pages {pages_num} 0 R >>").encode()))

    body_parts = []
    offs = []
    pos = 0
    for _num, data in packed:
        offs.append(pos)
        body_parts.append(data)
        pos += len(data) + 1
    header = " ".join(
        f"{num} {off}" for (num, _d), off in zip(packed, offs)
    ).encode() + b"\n"
    objstm_raw = header + b"\n".join(body_parts)
    first = len(header)
    objstm_comp = zlib.compress(objstm_raw, 9)
    objstm_obj = (
        b"<< /Type /ObjStm /N " + str(len(packed)).encode()
        + b" /First " + str(first).encode()
        + b" /Length " + str(len(objstm_comp)).encode()
        + b" /Filter /FlateDecode >>\nstream\n" + objstm_comp
        + b"\nendstream")

    out = bytearray(b"%PDF-1.5\n%\xe2\xe3\xcf\xd3\n")
    offsets: dict[int, int] = {}

    def emit(num: int, obj: bytes, gen: int = 0) -> None:
        offsets[num] = len(out)
        out.extend(f"{num} {gen} obj\n".encode() + obj + b"\nendobj\n")

    for idx, (cn, lines) in enumerate(zip(content_nums, pages)):
        ops = ["BT", "/F1 11 Tf", "1 0 0 1 72 770 Tm", "13 TL"]
        for ln in lines:
            ops.append(f"({_esc(ln)}) Tj")
            ops.append("T*")
        ops.append("ET")
        data = "\n".join(ops).encode("latin-1", "replace")
        comp = zlib.compress(data, 9)
        if idx == 0:
            hexed = binascii.hexlify(comp).upper() + b">"
            emit(cn, b"<< /Length " + str(len(hexed)).encode()
                 + b" /Filter [/ASCIIHexDecode /FlateDecode] >>\nstream\n"
                 + hexed + b"\nendstream", gen=1)
        else:
            emit(cn, b"<< /Length " + str(len(comp)).encode()
                 + b" /Filter /FlateDecode >>\nstream\n" + comp
                 + b"\nendstream")
    emit(objstm_num, objstm_obj)

    # ---- XRef stream: W [1 3 2]; type-1 rows point at byte offsets
    # (3 bytes: classic 2-byte offsets overflow past 64 KB), type-2 rows
    # at (objstm_num, index-in-stream)
    xref_off = len(out)
    rows = [b"\x00" + (0).to_bytes(3, "big") + (65535).to_bytes(2, "big")]
    for num in range(1, xref_num + 1):
        if num in offsets or num == xref_num:
            off = xref_off if num == xref_num else offsets[num]
            rows.append(b"\x01" + off.to_bytes(3, "big")
                        + (1 if num == content_nums[0] else 0)
                        .to_bytes(2, "big"))
        else:
            idx = [i for i, (n, _d) in enumerate(packed) if n == num][0]
            rows.append(b"\x02" + objstm_num.to_bytes(3, "big")
                        + idx.to_bytes(2, "big"))
    # PNG up-predictor, columns = 6 bytes/row
    pred_rows = []
    prev = bytes(6)
    for r in rows:
        pred_rows.append(b"\x02" + bytes((r[i] - prev[i]) & 0xFF
                                         for i in range(6)))
        prev = r
    xref_comp = zlib.compress(b"".join(pred_rows), 9)
    xref_obj = (
        b"<< /Type /XRef /Size " + str(xref_num + 1).encode()
        + b" /W [1 3 2] /Root " + str(catalog_num).encode() + b" 0 R"
        + b" /Filter /FlateDecode /DecodeParms << /Predictor 12"
        b" /Columns 6 >> /Length " + str(len(xref_comp)).encode()
        + b" >>\nstream\n" + xref_comp + b"\nendstream")
    emit(xref_num, xref_obj, gen=0)
    out += f"startxref\n{xref_off}\n%%EOF\n".encode()
    return bytes(out)


def build_scanned_pdf(pages: list[tuple[int, int, bytes]]) -> bytes:
    """Deterministic image-only ("scanned") PDF: each page is one
    Flate-compressed 8-bit /DeviceRGB image XObject painted full-page via
    ``cm … Do``, with NO text layer — the shape a scanner/print-driver
    emits. ``pages`` entries are (width, height, rgb_bytes h·w·3)."""
    objects: list[bytes] = []

    def add(obj: bytes) -> int:
        objects.append(obj)
        return len(objects)

    img_nums = []
    for w, h, rgb in pages:
        if len(rgb) != w * h * 3:
            raise ValueError("rgb byte count does not match width/height")
        comp = zlib.compress(rgb, 9)
        img_nums.append(add(
            b"<< /Type /XObject /Subtype /Image /Width " + str(w).encode()
            + b" /Height " + str(h).encode()
            + b" /ColorSpace /DeviceRGB /BitsPerComponent 8"
            + b" /Length " + str(len(comp)).encode()
            + b" /Filter /FlateDecode >>\nstream\n" + comp
            + b"\nendstream"))
    content_nums = []
    for (w, h, _rgb), _inum in zip(pages, img_nums):
        data = f"q\n{w} 0 0 {h} 0 0 cm\n/Im0 Do\nQ".encode()
        content_nums.append(add(
            b"<< /Length " + str(len(data)).encode() + b" >>\nstream\n"
            + data + b"\nendstream"))
    pages_num_placeholder = len(objects) + len(pages) + 1
    page_nums = []
    for (w, h, _rgb), inum, cn in zip(pages, img_nums, content_nums):
        page_nums.append(add((
            f"<< /Type /Page /Parent {pages_num_placeholder} 0 R"
            f" /MediaBox [0 0 {w} {h}]"
            f" /Resources << /XObject << /Im0 {inum} 0 R >> >>"
            f" /Contents {cn} 0 R >>").encode()))
    kids = " ".join(f"{n} 0 R" for n in page_nums)
    pages_num = add(
        f"<< /Type /Pages /Kids [{kids}] /Count {len(page_nums)} >>".encode())
    assert pages_num == pages_num_placeholder
    catalog = add(f"<< /Type /Catalog /Pages {pages_num} 0 R >>".encode())
    out = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    offsets = [0]
    for i, obj in enumerate(objects, start=1):
        offsets.append(len(out))
        out += f"{i} 0 obj\n".encode() + obj + b"\nendobj\n"
    xref_at = len(out)
    out += f"xref\n0 {len(objects) + 1}\n".encode()
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += f"{off:010d} 00000 n \n".encode()
    out += (f"trailer\n<< /Size {len(objects) + 1} /Root {catalog} 0 R >>\n"
            f"startxref\n{xref_at}\n%%EOF\n").encode()
    return bytes(out)


# --------------------------------------------------------------- extractor

_HDR_RE = re.compile(rb"(\d+)\s+\d+\s+obj\b")
_STREAM_START_RE = re.compile(rb"stream\r?\n")


def _parse_objects(blob: bytes) -> dict[int, tuple[bytes, bytes | None]]:
    """Sequential object walk → {num: (dict_bytes, stream_bytes|None)}.

    Compressed stream payloads are arbitrary bytes and can contain literal
    'endobj'/'endstream' sequences, so a global regex scan mis-splits them;
    instead we walk object by object and honor the /Length entry to skip
    stream payloads exactly. Generation numbers are accepted and ignored
    (live wild-PDF objects are gen 0; an incrementally-updated file
    redefines the object LATER in the byte stream, so last-wins matches
    the newest revision without reading any xref). PDF 1.5 object streams
    (/Type /ObjStm) are expanded afterward — their members merge in only
    where no direct object exists (a direct redefinition in an appended
    revision must shadow the packed original)."""
    out: dict[int, tuple[bytes, bytes | None]] = {}
    pos = 0
    n = len(blob)
    while True:
        m = _HDR_RE.search(blob, pos)
        if not m:
            break
        num = int(m.group(1))
        sm = _STREAM_START_RE.search(blob, m.end())
        eo = blob.find(b"endobj", m.end())
        if sm is not None and (eo == -1 or sm.start() < eo):
            dict_part = blob[m.end():sm.start()]
            # '/Length 5 0 R' is an indirect reference — its first integer is
            # an object number, not the byte count; treating it as a length
            # would truncate the stream. Fall back to the endstream scan.
            if re.search(rb"/Length\s+\d+\s+\d+\s+R\b", dict_part):
                lm = None
            else:
                lm = re.search(rb"/Length\s+(\d+)\b", dict_part)
            data_start = sm.end()
            if lm:
                data_end = min(n, data_start + int(lm.group(1)))
            else:
                data_end = blob.find(b"endstream", data_start)
                if data_end < 0:
                    data_end = n
            out[num] = (dict_part, blob[data_start:data_end])
            nxt = blob.find(b"endobj", data_end)
            pos = (nxt + 6) if nxt >= 0 else data_end
        else:
            end = eo if eo >= 0 else n
            out[num] = (blob[m.end():end], None)
            pos = (eo + 6) if eo >= 0 else n
    _expand_objstm(out)
    return out


def _expand_objstm(objects: dict[int, tuple[bytes, bytes | None]]) -> None:
    """Merge /Type /ObjStm members into the object map (PDF 1.5 §7.5.7).

    The stream holds /N (objnum, byte-offset) integer pairs from its
    start, then the packed objects at /First + offset. Packed objects are
    dict/array/scalar only (the spec forbids nested streams), so each
    member is (dict_bytes, None). A malformed ObjStm is skipped, not
    fatal — the rest of the document may still parse."""
    packed: dict[int, tuple[bytes, bytes | None]] = {}
    for _num, (dct, data) in sorted(objects.items()):
        if not re.search(rb"/Type\s*/ObjStm\b", dct) or data is None:
            continue
        try:
            body = _decode_stream(dct, data)
            n_objs = int(re.search(rb"/N\s+(\d+)", dct).group(1))
            first = int(re.search(rb"/First\s+(\d+)", dct).group(1))
            head = body[:first].split()
            pairs = [
                (int(head[i]), int(head[i + 1]))
                for i in range(0, 2 * n_objs, 2)
            ]
        except Exception:
            continue
        for i, (onum, off) in enumerate(pairs):
            end = pairs[i + 1][1] if i + 1 < len(pairs) else len(body) - first
            packed[onum] = (body[first + off:first + end], None)
    for onum, entry in packed.items():
        objects.setdefault(onum, entry)


def _png_unpredict(data: bytes, columns: int, colors: int = 1,
                   bpc: int = 8) -> bytes:
    """Reverse PNG row predictors (used by Flate /Predictor >= 10)."""
    bpp = max(1, (colors * bpc) // 8)
    row_len = columns * bpp
    out = bytearray()
    prev = bytearray(row_len)
    pos = 0
    while pos + 1 <= len(data):
        ftype = data[pos]
        row = bytearray(data[pos + 1:pos + 1 + row_len])
        pos += 1 + row_len
        for i in range(len(row)):
            left = row[i - bpp] if i >= bpp else 0
            up = prev[i]
            if ftype == 1:
                row[i] = (row[i] + left) & 0xFF
            elif ftype == 2:
                row[i] = (row[i] + up) & 0xFF
            elif ftype == 3:
                row[i] = (row[i] + ((left + up) >> 1)) & 0xFF
            elif ftype == 4:  # Paeth
                ul = prev[i - bpp] if i >= bpp else 0
                p = left + up - ul
                pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                pred = left if (pa <= pb and pa <= pc) else (
                    up if pb <= pc else ul)
                row[i] = (row[i] + pred) & 0xFF
        out += row
        prev = row
    return bytes(out)


_FILTER_RE = re.compile(
    rb"/Filter\s*(\[[^\]]*\]|/[A-Za-z0-9]+)"
)


def _decode_stream(dict_part: bytes, data: bytes | None) -> bytes | None:
    """Apply the stream's /Filter chain (name or array, left to right).
    Supported: FlateDecode (with PNG /Predictor DecodeParms),
    ASCIIHexDecode. An unknown filter raises ``UnsupportedPdfError`` —
    silently returning compressed bytes would corrupt downstream text."""
    if data is None:
        return None
    fm = _FILTER_RE.search(dict_part)
    if not fm:
        return data
    names = re.findall(rb"/([A-Za-z0-9]+)", fm.group(1))
    for name in names:
        if name in (b"FlateDecode", b"Fl"):
            try:
                data = zlib.decompress(data)
            except Exception as exc:
                raise UnsupportedPdfError(f"bad Flate stream: {exc}") from exc
            pm = re.search(rb"/Predictor\s+(\d+)", dict_part)
            if pm and int(pm.group(1)) >= 10:
                cols = int((re.search(rb"/Columns\s+(\d+)", dict_part)
                            or [None, b"1"])[1])
                colors = int((re.search(rb"/Colors\s+(\d+)", dict_part)
                              or [None, b"1"])[1])
                bpc = int((re.search(rb"/BitsPerComponent\s+(\d+)",
                                     dict_part) or [None, b"8"])[1])
                data = _png_unpredict(data, cols, colors, bpc)
        elif name in (b"ASCIIHexDecode", b"AHx"):
            hex_part = data.split(b">")[0]
            hex_str = re.sub(rb"\s+", b"", hex_part)
            if len(hex_str) % 2:
                hex_str += b"0"
            try:
                data = bytes.fromhex(hex_str.decode("ascii"))
            except Exception as exc:
                raise UnsupportedPdfError(f"bad AHx stream: {exc}") from exc
        else:
            raise UnsupportedPdfError(
                f"unsupported stream filter /{name.decode('ascii', 'replace')}"
            )
    return data


_PDF_ESCAPES = {
    ord("n"): b"\n", ord("r"): b"\r", ord("t"): b"\t", ord("b"): b"\b",
    ord("f"): b"\f", ord("("): b"(", ord(")"): b")", ord("\\"): b"\\",
}
# a backslash and what it escapes: up to 3 octal digits, else one byte
_PDF_ESCAPE_RE = re.compile(rb"\\([0-7]{1,3}|.)", re.S)


def _pdf_unescape_one(m: re.Match) -> bytes:
    esc = m.group(1)
    if 0x30 <= esc[0] <= 0x37:
        return bytes([int(esc, 8) & 0xFF])
    # unknown escapes drop the backslash and keep the byte
    return _PDF_ESCAPES.get(esc[0], esc)


def _pdf_unescape_bytes(raw: bytes) -> bytes:
    """Literal-string escape removal only — returns the raw CODE BYTES so
    a font decoder (ToUnicode / Type0) can interpret multi-byte codes.
    Most strings hold no backslash and come back unchanged; a trailing
    backslash is kept."""
    if b"\\" not in raw:
        return raw
    return _PDF_ESCAPE_RE.sub(_pdf_unescape_one, raw)


def _pdf_unescape(raw: bytes) -> str:
    return _pdf_unescape_bytes(raw).decode("latin-1")


# ------------------------------------------------- fonts / ToUnicode CMaps


def _dict_value(dct: bytes, key: bytes) -> bytes | None:
    """Raw value bytes after ``/Key`` in a PDF dictionary: a nested
    ``<< >>`` dict (balance-scanned), an array, an ``N g R`` reference, a
    name, or a scalar — whatever token starts there."""
    m = re.search(rb"/" + re.escape(key) + rb"(?![A-Za-z0-9])\s*", dct)
    if not m:
        return None
    i = m.end()
    if dct[i:i + 2] == b"<<":
        depth, j = 0, i
        while j < len(dct):
            if dct[j:j + 2] == b"<<":
                depth += 1
                j += 2
            elif dct[j:j + 2] == b">>":
                depth -= 1
                j += 2
                if depth == 0:
                    return dct[i:j]
            else:
                j += 1
        return dct[i:]
    rm = re.match(rb"\d+\s+\d+\s+R\b|\[[^\]]*\]|/[^\s/\[\]<>()]+"
                  rb"|[-+]?[0-9.]+|\([^)]*\)", dct[i:])
    return dct[i:i + rm.end()] if rm else None


def _deref(objects: dict, token: bytes | None) -> bytes | None:
    """Follow one level of ``N g R`` indirection; non-refs pass through."""
    if token is None:
        return None
    m = re.fullmatch(rb"(\d+)\s+\d+\s+R", token.strip())
    if m:
        return objects.get(int(m.group(1)), (None, None))[0]
    return token


_HEX_STR = re.compile(rb"<([0-9A-Fa-f\s]*)>")


def _hex_bytes(tok: bytes) -> bytes:
    h = re.sub(rb"\s+", b"", tok.strip(b"<>"))
    if len(h) % 2:
        h += b"0"
    return bytes.fromhex(h.decode("ascii"))


def _parse_tounicode(cmap: bytes) -> tuple[int, dict[int, str]]:
    """(code byte width, {code → text}) from a ToUnicode CMap stream:
    codespacerange fixes the width; bfchar pairs and bfrange triples
    (either ``<lo> <hi> <dst>`` or ``<lo> <hi> [<d0> <d1> …]``) fill the
    map. Destinations are UTF-16BE per the spec."""
    width = 1
    csm = re.search(
        rb"begincodespacerange\s*<([0-9A-Fa-f]+)>", cmap)
    if csm:
        width = max(1, len(csm.group(1)) // 2)
    table: dict[int, str] = {}

    def dst_text(h: bytes) -> str:
        return _hex_bytes(h).decode("utf-16-be", "replace")

    for block in re.findall(
            rb"beginbfchar(.*?)endbfchar", cmap, re.S):
        for src, dst in re.findall(
                rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>", block):
            table[int(src, 16)] = dst_text(dst)
    for block in re.findall(
            rb"beginbfrange(.*?)endbfrange", cmap, re.S):
        for lo, hi, dst in re.findall(
                rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*"
                rb"(<[0-9A-Fa-f]+>|\[[^\]]*\])", block):
            lo_i, hi_i = int(lo, 16), int(hi, 16)
            if dst.startswith(b"["):
                dsts = _HEX_STR.findall(dst)
                for k, d in enumerate(dsts[:hi_i - lo_i + 1]):
                    table[lo_i + k] = dst_text(d)
            else:
                base = _hex_bytes(dst)
                base_cp = int.from_bytes(base, "big")
                blen = len(base)
                for c in range(lo_i, hi_i + 1):
                    table[c] = (base_cp + c - lo_i).to_bytes(
                        blen, "big").decode("utf-16-be", "replace")
    return width, table


def _font_decoder(font_dct: bytes | None, objects: dict):
    """bytes → str decoder for one font resource. Priority: ToUnicode
    CMap (width + table) → Type0/Identity 2-byte codepoints → latin-1
    single-byte (the classic simple-font path, byte-identical to the
    pre-hardening behavior)."""
    if font_dct:
        tu = _dict_value(font_dct, b"ToUnicode")
        rm = re.fullmatch(rb"(\d+)\s+\d+\s+R", (tu or b"").strip())
        if rm:
            cdct, cdata = objects.get(int(rm.group(1)), (b"", None))
            try:
                cm = _decode_stream(cdct, cdata)
            except UnsupportedPdfError:
                cm = None
            if cm:
                width, table = _parse_tounicode(cm)

                def decode_tu(raw: bytes) -> str:
                    return "".join(
                        table.get(
                            int.from_bytes(raw[i:i + width], "big"),
                            "�",
                        )
                        for i in range(0, len(raw) - width + 1, width)
                    )
                return decode_tu
        if re.search(rb"/Subtype\s*/Type0\b", font_dct):
            def decode_identity(raw: bytes) -> str:
                return "".join(
                    chr(int.from_bytes(raw[i:i + 2], "big"))
                    for i in range(0, len(raw) - 1, 2)
                )
            return decode_identity
    return lambda raw: raw.decode("latin-1")


def _page_fonts(res: bytes | None, objects: dict):
    """{font resource name → decoder} for a page's /Resources dict."""
    fonts: dict[bytes, object] = {}
    fdict = _deref(objects, _dict_value(res, b"Font")) if res else None
    if fdict:
        for nm in re.finditer(
                rb"/([^\s/\[\]<>()]+)\s+(\d+)\s+\d+\s+R", fdict):
            fobj = objects.get(int(nm.group(2)), (b"", None))[0]
            fonts[nm.group(1)] = _font_decoder(fobj, objects)
    return fonts


# ------------------------------------------------------------- page tree

_NUM_RE = rb"[-+]?[0-9]*\.?[0-9]+"
_REF_RE = re.compile(rb"(\d+)\s+\d+\s+R\b")
_PAGES_TYPE = re.compile(rb"/Type\s*/Pages(?![A-Za-z0-9])")
_PAGE_TYPE = re.compile(rb"/Type\s*/Page(?![A-Za-z0-9])")
_MEDIABOX_RE = re.compile(
    rb"/MediaBox\s*\[\s*(" + _NUM_RE + rb")\s+(" + _NUM_RE + rb")\s+("
    + _NUM_RE + rb")\s+(" + _NUM_RE + rb")"
)


def _catalog(objects: dict) -> bytes:
    """The document catalog's dict (lowest-numbered /Type /Catalog)."""
    return next((dct for _n, (dct, _d) in sorted(objects.items())
                 if re.search(rb"/Type\s*/Catalog(?![A-Za-z0-9])", dct)),
                b"")


def _pages(objects: dict
           ) -> list[tuple[int, bytes, bytes | None, tuple[float, float]]]:
    """(object number, page dict, /Resources, (y0, y1) of the MediaBox)
    per page, in document order — the one page walk every extractor and
    ``page_count`` share, so their page lists align index-for-index.

    Depth-first from the catalog's /Pages through each node's bracketed
    /Kids array (direct or one ``N g R`` away); refs elsewhere in a node,
    such as /Parent, are not kids. /Resources and /MediaBox are
    inheritable (ISO 32000-1 §7.7.3.4): a node's own value, else its
    nearest ancestor's, else none and US-Letter (0, 792). The seen-set
    makes a /Kids cycle or a shared kid visit once. A document whose tree
    yields no page falls back to every /Type /Page object in
    object-number order. The y1 edge is the content y-flip reference;
    height is y1 - y0."""
    def walk(nums: list[int]):
        pages = []
        seen: set[int] = set()
        stack = [(n, None, (0.0, 792.0)) for n in reversed(nums)]
        while stack:
            num, res, box = stack.pop()
            if num in seen:
                continue
            seen.add(num)
            dct = objects.get(num, (b"", None))[0]
            res = _deref(objects, _dict_value(dct, b"Resources")) or res
            mb = _MEDIABOX_RE.search(dct)
            if mb:
                box = (float(mb.group(2)), float(mb.group(4)))
            if _PAGES_TYPE.search(dct):
                kids = _deref(objects, _dict_value(dct, b"Kids")) or b""
                stack += [(int(k), res, box)
                          for k in reversed(_REF_RE.findall(kids))]
            elif _PAGE_TYPE.search(dct):
                pages.append((num, dct, res, box))
        return pages

    root = _REF_RE.match(_dict_value(_catalog(objects), b"Pages") or b"")
    return walk([int(root.group(1))] if root else []) or walk(
        [n for n, (dct, _d) in sorted(objects.items())
         if _PAGE_TYPE.search(dct)])


def extract_page_images(blob: bytes) -> list[list[dict]]:
    """Per-page embedded image XObjects — the raster layer of a SCANNED
    page (the reference rasterizes via pdfplumber then OCRs,
    pdf_parser.py ``__images__``; for image-only PDFs the page raster IS
    the single embedded scan, so extracting the XObject recovers the
    same pixels without a renderer).

    Each entry: ``{page_number, name, width, height, pixels, format}``.
    ``pixels`` is decoded RGB bytes (h·w·3, row-major) when the stream is
    losslessly reachable — Flate/AHx chains over 8-bit /DeviceRGB or
    /DeviceGray — else ``None`` with ``format`` naming the codec that
    blocked it (e.g. ``DCTDecode`` = embedded JPEG: no JPEG codec in this
    sandbox; the multimodal tier's contract stubs lossy codecs)."""
    if not blob.startswith(b"%PDF"):
        raise UnsupportedPdfError("not a PDF")
    objects = _parse_objects(blob)
    pages: list[list[dict]] = []
    for _num, _dct, res, _box in _pages(objects):
        page_no = len(pages) + 1
        imgs: list[dict] = []
        xdict = _deref(objects, _dict_value(res, b"XObject")) if res else None
        if xdict:
            for nm in re.finditer(
                    rb"/([^\s/\[\]<>()]+)\s+(\d+)\s+\d+\s+R", xdict):
                xdct, xdata = objects.get(int(nm.group(2)), (b"", None))
                if not re.search(rb"/Subtype\s*/Image\b", xdct or b""):
                    continue
                w = int((re.search(rb"/Width\s+(\d+)", xdct)
                         or [None, b"0"])[1])
                h = int((re.search(rb"/Height\s+(\d+)", xdct)
                         or [None, b"0"])[1])
                bpc = int((re.search(rb"/BitsPerComponent\s+(\d+)", xdct)
                           or [None, b"8"])[1])
                cs = (re.search(rb"/ColorSpace\s*/([A-Za-z0-9]+)", xdct)
                      or [None, b""])[1]
                pixels = None
                fmt = "raw"
                try:
                    data = _decode_stream(xdct, xdata)
                except UnsupportedPdfError as exc:
                    data = None
                    fmt = str(exc).rsplit("/", 1)[-1] or "unknown"
                if data is not None and bpc == 8:
                    if cs == b"DeviceRGB" and len(data) >= w * h * 3:
                        pixels = data[: w * h * 3]
                    elif cs == b"DeviceGray" and len(data) >= w * h:
                        g = data[: w * h]
                        pixels = bytes(
                            b for px in g for b in (px, px, px))
                if data is not None and pixels is None:
                    fmt = f"undecodable:{cs.decode('ascii', 'replace')}" \
                          f"/{bpc}bpc"
                imgs.append({
                    "page_number": page_no,
                    "name": nm.group(1).decode("ascii", "replace"),
                    "width": w, "height": h,
                    "pixels": pixels, "format": fmt,
                })
        pages.append(imgs)
    if not pages:
        raise UnsupportedPdfError("no extractable pages")
    return pages


def _page_content_data(page_dct: bytes, objects: dict) -> bytes | None:
    """Decoded, concatenated page content: single ``/Contents N g R``,
    or an array of refs, direct or itself behind one ``N g R`` (ISO
    32000-1 Table 30; streams joined with a newline per §7.8.2 —
    multiple streams form ONE logical stream)."""
    val = _dict_value(page_dct, b"Contents")
    if val is None:
        return None
    ref = re.fullmatch(rb"(\d+)\s+\d+\s+R", val.strip())
    if ref:
        dct, data = objects.get(int(ref.group(1)), (b"", None))
        if data is None and dct.lstrip().startswith(b"["):
            val = dct
    parts = []
    for m in _REF_RE.finditer(val):
        cdct, cdata = objects.get(int(m.group(1)), (b"", None))
        data = _decode_stream(cdct, cdata)
        if data is not None:
            parts.append(data)
    return b"\n".join(parts) if parts else None


# ------------------------------------------------- content interpreter

_STR_OR_HEX = re.compile(
    rb"\((?:\\.|[^\\()])*\)|<[0-9A-Fa-f\s]*>")
_TOKEN_RE = re.compile(
    rb"\((?:\\.|[^\\()])*\)"                      # string
    rb"|<[0-9A-Fa-f\s]*>(?!<)"                    # hex string
    rb"|\[(?:\\.|\((?:\\.|[^\\()])*\)|[^\]])*\]"  # TJ array
    rb"|/[^\s/\[\]<>()]+"                         # name
    rb"|" + _NUM_RE +                             # number
    rb"|[A-Za-z'\"*]+"                            # operator
)


def _LATIN1(raw: bytes) -> str:
    return raw.decode("latin-1")


def _tok_to_bytes(tok: bytes) -> bytes:
    """Code bytes of one string token — literal ``( )`` or hex ``< >``."""
    if tok.startswith(b"("):
        return _pdf_unescape_bytes(tok[1:-1])
    return _hex_bytes(tok)


def _text_ops(content: bytes, fonts: dict):
    """Evaluate one page content stream's text operators in stream order.

    Yields ``(text, x, y, size, visible)`` per string shown by Tj, TJ, '
    or " inside BT…ET, and ``None`` where a line ends: at T*/Td/TD,
    before ' and ", at ET and at the end of the stream. (x, y) is the
    baseline origin in PDF user space, tracked through Tm/Td/TD/TL/T*;
    ``size`` comes from Tf. String code bytes (literal or hex) go through
    the current font's decoder — ToUnicode / Type0 CID text decodes to
    real Unicode; simple fonts stay latin-1. ``visible`` is False while
    the fill colour (g/rg/k, anywhere in the stream, saved and restored
    by q/Q) is (near-)white — F2's invisible text (pdf_parser.py:178-184
    ``_has_color``); stroke colour (G/RG/K) does not paint filled text."""
    decoder = _LATIN1
    in_text = False
    size = 11.0
    x = y = tl = 0.0
    nums: list[bytes] = []
    pending: str | None = None  # last string awaiting its operator
    last_name: bytes | None = None
    visible = True
    saved: list[bool] = []
    for m in _TOKEN_RE.finditer(content):
        t = m.group(0)
        c = t[:1]
        if c == b"/":
            last_name = t[1:]
            continue
        if c in b"+-.0123456789":
            nums.append(t)
            continue
        if c == b"(" or c == b"<":
            if in_text:
                pending = decoder(_tok_to_bytes(t))
            continue
        if c == b"[":
            if in_text:
                yield ("".join(decoder(_tok_to_bytes(s))
                               for s in _STR_OR_HEX.findall(t)),
                       x, y, size, visible)
                pending = None
                nums.clear()
            continue
        if t == b"BT":
            in_text = True
        elif t == b"ET":
            in_text = False
            yield None
        elif t == b"q":
            saved.append(visible)
        elif t == b"Q":
            if saved:
                visible = saved.pop()
        elif t == b"g":
            if nums:
                visible = float(nums[-1]) < 0.95
        elif t == b"rg":
            if len(nums) >= 3:
                visible = not all(float(v) >= 0.95 for v in nums[-3:])
        elif t == b"k":
            if len(nums) >= 4:
                visible = not all(float(v) <= 0.05 for v in nums[-4:])
        elif not in_text:  # the operators below act only inside BT…ET
            pass
        elif t == b"Tf":
            if nums:
                size = float(nums[-1])
            if last_name is not None and last_name in fonts:
                decoder = fonts[last_name]
        elif t == b"Tm":
            if len(nums) >= 2:
                x, y = float(nums[-2]), float(nums[-1])
        elif t in (b"Td", b"TD"):
            if len(nums) >= 2:
                x += float(nums[-2])
                y += float(nums[-1])
                if t == b"TD":
                    tl = -float(nums[-1])
            yield None
        elif t == b"TL":
            if nums:
                tl = float(nums[-1])
        elif t == b"T*":
            y -= tl
            yield None
        elif t == b"Tj":
            if pending is not None:
                yield pending, x, y, size, visible
                pending = None
        elif t in (b"'", b'"'):
            yield None
            y -= tl
            if pending is not None:
                yield pending, x, y, size, visible
                pending = None
        nums.clear()
    yield None


def extract_text_lines(blob: bytes) -> list[list[str]]:
    """Per-page text lines for the simple-text-PDF subset: the strings
    shown between two line ends, joined — empty and invisible strings
    included, as PlainParser's pypdf ``extract_text`` keeps them."""
    if not blob.startswith(b"%PDF"):
        raise UnsupportedPdfError("not a PDF")
    objects = _parse_objects(blob)
    pages: list[list[str]] = []
    for _num, dct, res, _box in _pages(objects):
        data = _page_content_data(dct, objects)
        lines: list[str] = []
        current: list[str] = []
        if data is not None:
            for show in _text_ops(data, _page_fonts(res, objects)):
                if show is not None:
                    current.append(show[0])
                elif current:
                    lines.append("".join(current))
                    current = []
        pages.append(lines)
    if not pages:
        raise UnsupportedPdfError("no extractable pages")
    return pages


def page_heights(blob: bytes) -> list[float]:
    """Real MediaBox height (y1 - y0) per page, aligned index-for-index
    with ``extract_boxes``' pages list (same ``_pages`` walk). The
    reference accumulates ACTUAL page heights into ``page_cum_height``
    (pdf_parser.py ``__images__``); callers that rebuild doc-absolute
    offsets (qa's has_qbullet spacing veto) need these rather than a
    pinned 792."""
    if not blob.startswith(b"%PDF"):
        raise UnsupportedPdfError("not a PDF")
    return [y1 - y0 for _n, _d, _r, (y0, y1) in _pages(_parse_objects(blob))]


def extract_boxes(blob: bytes) -> list[list[dict]]:
    """Per-page positioned text boxes (the heuristic stand-in for the OCR
    box stream of SURVEY §2.8 V1/V2), one per visible non-empty shown
    string, with 1-based ``page_number``. The PDF bottom-left origin
    becomes the reference's top-down box coordinates against the
    MediaBox top edge y1 (top = y1 - baseline_y - size; bottom = top +
    1.2·size ≈ ascent box). x1 is estimated from a 0.5·size average
    glyph advance — the deterministic stand-in for font metrics this
    heuristic backend uses."""
    if not blob.startswith(b"%PDF"):
        raise UnsupportedPdfError("not a PDF")
    objects = _parse_objects(blob)
    pages: list[list[dict]] = []
    for _num, dct, res, (_y0, y1) in _pages(objects):
        data = _page_content_data(dct, objects)
        boxes: list[dict] = []
        if data is not None:
            for show in _text_ops(data, _page_fonts(res, objects)):
                if show is None or not show[0] or not show[4]:
                    continue
                text, x, y, size, _visible = show
                top = y1 - y - size
                boxes.append({
                    "text": text,
                    "x0": x,
                    "x1": x + 0.5 * size * len(text),
                    "top": top,
                    "bottom": top + size * 1.2,
                    "page_number": len(pages) + 1,
                })
        pages.append(boxes)
    if not pages:
        raise UnsupportedPdfError("no extractable pages")
    return pages


def page_count(blob: bytes) -> int:
    """Page count from the page tree only — no content-stream decode
    (the ``PdfParser.total_page_number`` role task splitting needs,
    api/db/services/task_service.py:164)."""
    if not blob.startswith(b"%PDF"):
        raise UnsupportedPdfError("not a PDF")
    return len(_pages(_parse_objects(blob)))


def extract_outlines(blob: bytes) -> list[tuple[str, int]]:
    """S4: DFS over the /Outlines tree → [(title, depth)], the same order
    and shape the reference collects via pypdf (pdf_parser.py:966-979:
    ``dfs(outlines, 0)`` appending (a['/Title'], depth)). Returns [] when
    the document carries no outline — the reference logs 'Miss outlines'
    and continues the same way."""
    if not blob.startswith(b"%PDF"):
        raise UnsupportedPdfError("not a PDF")
    objects = _parse_objects(blob)
    m = re.search(rb"/Outlines\s+(\d+)\s+\d+\s+R", _catalog(objects))
    if m is None:
        return []
    root = int(m.group(1))
    out: list[tuple[str, int]] = []
    seen: set[int] = set()

    def first_child(dct: bytes) -> int | None:
        m = re.search(rb"/First\s+(\d+)\s+\d+\s+R", dct)
        return int(m.group(1)) if m else None

    def walk(num: int | None, depth: int) -> None:
        while num is not None and num not in seen:
            seen.add(num)
            dct, _d = objects.get(num, (b"", None))
            tm = re.search(rb"/Title\s*(\((?:\\.|[^\\()])*\))", dct)
            if tm:
                out.append((_pdf_unescape(tm.group(1)[1:-1]), depth))
            child = first_child(dct)
            if child is not None:
                walk(child, depth + 1)
            nm = re.search(rb"/Next\s+(\d+)\s+\d+\s+R", dct)
            num = int(nm.group(1)) if nm else None

    root_dct, _ = objects.get(root, (b"", None))
    walk(first_child(root_dct), 0)
    return out


def plain_parse(blob: bytes, from_page: int = 0, to_page: int = 100000
                ) -> list[tuple[str, str]]:
    """PlainParser equivalent (pdf_parser.py:1142-1168): per-page
    ``extract_text`` split on newlines → [(line, "")] sections within the
    requested page window."""
    pages = extract_text_lines(blob)
    sections: list[tuple[str, str]] = []
    for pn, lines in enumerate(pages):
        if pn < from_page:
            continue
        if pn >= to_page:
            break
        for ln in lines:
            # EMPTY lines stay: the reference extends with every
            # extract_text().split("\n") entry unfiltered
            # (pdf_parser.py:1149) — consumers filter (or keep) them
            # per template, e.g. paper joins them as blank lines
            sections.append((ln, ""))
    return sections
