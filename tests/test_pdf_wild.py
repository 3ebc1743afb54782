"""Wild-PDF hardening: object streams, XRef streams, filter chains,
generation numbers, /Contents arrays, CID/Type0 hex text with ToUnicode
CMaps — the PDF 1.5+ shapes pypdf handles for the reference's PlainParser
(deepdoc/parser/pdf_parser.py:1142-1168) that a classic-xref-only parser
chokes on. Every test feeds extractor-independent bytes produced by the
deterministic writers (build_objstm_pdf / build_cid_pdf), whose output
format is fixed by the PDF spec, not by the extractor under test."""

import random

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from ragflow_spark.core import pdf_mini


# ----------------------------------------------------------------- ObjStm


def test_objstm_roundtrip():
    pages = [["hello objstm", "line two"], ["page 2 text"]]
    blob = pdf_mini.build_objstm_pdf(pages)
    # honest-format guards: the dicts really are packed, the xref really
    # is a stream, the first content stream really is an AHx+Flate chain
    assert b"/ObjStm" in blob and b"/Type /XRef" in blob
    assert b"/ASCIIHexDecode" in blob
    assert b"trailer" not in blob  # xref-stream files carry no classic one
    assert pdf_mini.extract_text_lines(blob) == pages


def test_objstm_page_count_heights_outline_free():
    blob = pdf_mini.build_objstm_pdf([["a"], ["b"], ["c"]])
    assert pdf_mini.page_count(blob) == 3
    assert pdf_mini.page_heights(blob) == [792.0, 792.0, 792.0]
    assert pdf_mini.extract_outlines(blob) == []


def test_objstm_boxes_have_positions():
    blob = pdf_mini.build_objstm_pdf([["first line", "second line"]])
    pages = pdf_mini.extract_boxes(blob)
    assert [b["text"] for b in pages[0]] == ["first line", "second line"]
    assert pages[0][0]["top"] < pages[0][1]["top"]


def test_objstm_direct_object_shadows_packed():
    # an appended direct redefinition (incremental update) must win over
    # the ObjStm member with the same object number
    blob = pdf_mini.build_objstm_pdf([["original"]])
    objects = pdf_mini._parse_objects(blob)
    font_num = next(
        n for n, (d, _s) in objects.items() if b"/BaseFont" in d
    )
    head, _, tail = blob.rpartition(b"startxref")
    override = (
        f"\n{font_num} 0 obj\n<< /Type /Font /Subtype /Type1"
        f" /BaseFont /Courier >>\nendobj\n"
    ).encode()
    patched = head + override + b"startxref" + tail
    reparsed = pdf_mini._parse_objects(patched)
    assert b"/Courier" in reparsed[font_num][0]
    # the document still extracts (text path unaffected by the font swap)
    assert pdf_mini.extract_text_lines(patched) == [["original"]]


def test_png_unpredict_identity_and_up():
    raw = bytes(range(30))
    # encode with the up predictor over 6-byte rows, then reverse
    rows = [raw[i:i + 6] for i in range(0, 30, 6)]
    enc = bytearray()
    prev = bytes(6)
    for r in rows:
        enc += b"\x02" + bytes((r[i] - prev[i]) & 0xFF for i in range(6))
        prev = r
    assert pdf_mini._png_unpredict(bytes(enc), 6) == raw


def test_filter_chain_unknown_filter_raises():
    blob = (b"%PDF-1.4\n1 0 obj\n<< /Length 4 /Filter /DCTDecode >>\n"
            b"stream\n\xff\xd8\xff\xe0\nendstream\nendobj\n")
    with pytest.raises(pdf_mini.UnsupportedPdfError):
        pdf_mini._decode_stream(b"<< /Filter /DCTDecode >>", b"\xff\xd8")
    # and a page pointing at it surfaces the failure, not silent garbage
    assert blob  # (direct decode asserted above)


# -------------------------------------------------------------- CID fonts


def test_cid_roundtrip_ascii_and_cjk():
    pages = [["héllo wörld", "中文段落，带标点。"], ["第二页 abc"]]
    blob = pdf_mini.build_cid_pdf(pages)
    # honest-format guards: hex strings + Type0 + ToUnicode present; the
    # CMap itself is Flate-compressed, so decode it before checking both
    # bfchar and bfrange forms were really emitted
    assert b"/Identity-H" in blob and b"/ToUnicode" in blob
    objects = pdf_mini._parse_objects(blob)
    cmap = next(
        pdf_mini._decode_stream(d, s) for d, s in objects.values()
        if s is not None
        and b"beginbfchar" in pdf_mini._decode_stream(d, s)
    )
    assert b"beginbfrange" in cmap and b"beginbfchar" in cmap
    assert pdf_mini.extract_text_lines(blob) == pages


def test_cid_boxes_decode_and_position():
    blob = pdf_mini.build_cid_pdf([["alpha", "beta"]])
    pages = pdf_mini.extract_boxes(blob)
    assert [b["text"] for b in pages[0]] == ["alpha", "beta"]
    assert pages[0][0]["page_number"] == 1


def test_cid_truncated_tounicode_degrades_not_crashes():
    blob = pdf_mini.build_cid_pdf([["fallback text"]], bad_tounicode=True)
    pages = pdf_mini.extract_text_lines(blob)
    assert len(pages) == 1 and len(pages[0]) == 1
    # unmapped codes surface as replacement chars (pypdf yields garbage
    # glyph ids here too) — the structure survives
    assert len(pages[0][0]) == len("fallback text")


def test_cid_fuzz_roundtrip():
    rng = random.Random(7)
    pool = ("abcdefghijklmnopqrstuvwxyz"
            "ABCDEFGHIJ 0123456789"
            "中文测试字符集标点。，！？")
    for _ in range(10):
        pages = [
            ["".join(rng.choice(pool) for _ in range(rng.randint(1, 40)))
             for _ in range(rng.randint(1, 6))]
            for _ in range(rng.randint(1, 3))
        ]
        blob = pdf_mini.build_cid_pdf(pages)
        assert pdf_mini.extract_text_lines(blob) == pages


def test_tounicode_bfrange_array_form():
    # array-form bfrange (each code gets its own destination) — the
    # generator never emits it, so build the CMap by hand
    cmap = (b"1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n"
            b"1 beginbfrange\n<0001> <0003> [<0041> <0043> <0045>]\n"
            b"endbfrange\n")
    width, table = pdf_mini._parse_tounicode(cmap)
    assert width == 2
    assert (table[1], table[2], table[3]) == ("A", "C", "E")


def test_tounicode_surrogate_pair_destination():
    # a non-BMP destination is 4 UTF-16BE bytes (surrogate pair)
    cmap = (b"1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n"
            b"1 beginbfchar\n<0001> <D83DDE00>\nendbfchar\n")
    _w, table = pdf_mini._parse_tounicode(cmap)
    assert table[1] == "\U0001f600"


# ------------------------------------------- gen numbers / content arrays


def test_generation_numbers_tolerated():
    # build_objstm_pdf writes its first content stream as gen 1 and
    # references it as "N 1 R"
    blob = pdf_mini.build_objstm_pdf([["gen-one stream"], ["plain"]])
    assert b"1 1 obj" in blob  # non-zero generation on a direct object
    # the "N 1 R" reference to it sits inside the COMPRESSED ObjStm —
    # verify it there, not in the raw bytes
    objects = pdf_mini._parse_objects(blob)
    assert any(b" 1 R" in d for d, _s in objects.values())
    assert pdf_mini.extract_text_lines(blob) == [["gen-one stream"],
                                                 ["plain"]]


def test_contents_array_concatenation():
    # hand-build a page whose /Contents is an ARRAY of two streams that
    # split one BT..ET block across the boundary (legal per §7.8.2: the
    # page's content is the CONCATENATION)
    c1 = b"BT\n/F1 11 Tf\n1 0 0 1 72 770 Tm\n13 TL\n(part one) Tj\nT*"
    c2 = b"(part two) Tj\nET"
    objs = [
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        b"<< /Length " + str(len(c1)).encode() + b" >>\nstream\n" + c1
        + b"\nendstream",
        b"<< /Length " + str(len(c2)).encode() + b" >>\nstream\n" + c2
        + b"\nendstream",
        b"<< /Type /Page /Parent 5 0 R /MediaBox [0 0 612 792]"
        b" /Resources << /Font << /F1 1 0 R >> >>"
        b" /Contents [2 0 R 3 0 R] >>",
        b"<< /Type /Pages /Kids [4 0 R] /Count 1 >>",
        b"<< /Type /Catalog /Pages 5 0 R >>",
    ]
    out = bytearray(b"%PDF-1.4\n")
    for i, o in enumerate(objs, 1):
        out += f"{i} 0 obj\n".encode() + o + b"\nendobj\n"
    out += b"trailer\n<< /Size 7 /Root 6 0 R >>\n%%EOF\n"
    assert pdf_mini.extract_text_lines(bytes(out)) == [
        ["part one", "part two"]]


def _hand_pdf(objs: dict[int, bytes], root: int) -> bytes:
    out = bytearray(b"%PDF-1.4\n")
    for num, body in sorted(objs.items()):
        out += f"{num} 0 obj\n".encode() + body + b"\nendobj\n"
    out += f"trailer\n<< /Root {root} 0 R >>\n%%EOF\n".encode()
    return bytes(out)


def _stream(data: bytes) -> bytes:
    return (b"<< /Length " + str(len(data)).encode() + b" >>\nstream\n"
            + data + b"\nendstream")


_HELVETICA = b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"


def _texts(blob: bytes) -> list[list[str]]:
    return [[b["text"] for b in pg] for pg in pdf_mini.extract_boxes(blob)]


def test_contents_indirect_array():
    # /Contents 4 0 R where object 4 is the ARRAY [2 0 R 3 0 R], not a
    # stream (ISO 32000-1 Table 30 allows either)
    blob = _hand_pdf({
        1: _HELVETICA,
        2: _stream(b"BT\n/F1 11 Tf\n1 0 0 1 72 770 Tm\n13 TL\n"
                   b"(part one) Tj\nT*"),
        3: _stream(b"(part two) Tj\nET"),
        4: b"[2 0 R 3 0 R]",
        5: b"<< /Type /Page /Parent 6 0 R"
           b" /Resources << /Font << /F1 1 0 R >> >> /Contents 4 0 R >>",
        6: b"<< /Type /Pages /Kids [5 0 R] /Count 1 >>",
        7: b"<< /Type /Catalog /Pages 6 0 R >>",
    }, 7)
    assert pdf_mini.extract_text_lines(blob) == [["part one", "part two"]]
    assert _texts(blob) == [["part one", "part two"]]


def test_nested_pages_node_keeps_order_and_count():
    # root 5 → [inner /Pages 6, page 4]; inner 6 → [page 3]: the
    # intermediate node is not a page, and 3 comes before 4
    blob = _hand_pdf({
        1: _HELVETICA,
        2: _stream(b"BT /F1 11 Tf 1 0 0 1 72 700 Tm (first page) Tj ET"),
        7: _stream(b"BT /F1 11 Tf 1 0 0 1 72 700 Tm (second page) Tj ET"),
        3: b"<< /Type /Page /Parent 6 0 R /Contents 2 0 R >>",
        4: b"<< /Type /Page /Parent 5 0 R /Contents 7 0 R >>",
        5: b"<< /Type /Pages /Kids [6 0 R 4 0 R] /Count 2"
           b" /Resources << /Font << /F1 1 0 R >> >> >>",
        6: b"<< /Type /Pages /Kids [3 0 R] /Count 1 /Parent 5 0 R >>",
        8: b"<< /Type /Catalog /Pages 5 0 R >>",
    }, 8)
    assert _texts(blob) == [["first page"], ["second page"]]
    assert pdf_mini.extract_text_lines(blob) == [["first page"],
                                                 ["second page"]]
    assert pdf_mini.page_count(blob) == 2
    assert pdf_mini.page_heights(blob) == [792.0, 792.0]


@st.composite
def _page_trees(draw):
    """A random page tree as a PDF, its expected page labels in
    depth-first order and each page's inherited MediaBox height.

    Fan-out 1-4, depth ≤ 3, shuffled object numbers, /Parent and an
    indirect /Resources written after /Kids, /MediaBox and /Resources
    only on /Pages nodes, one orphan /Page outside the tree and one
    /Kids self-cycle."""
    def node(depth):
        kids = [node(depth + 1) if depth < 2 and draw(st.booleans())
                else None for _ in range(draw(st.integers(1, 4)))]
        return {"kids": kids, "res": draw(st.booleans()),
                "h": draw(st.one_of(st.none(), st.integers(100, 999)))}

    root = node(0)
    inner = [root]
    for n in inner:  # grows while iterated: every /Pages node
        inner += [k for k in n["kids"] if k is not None]
    n_leaves = sum(k is None for n in inner for k in n["kids"])
    # inner nodes, leaf pages + their streams, font, resources, orphan
    # page + its stream, catalog
    nums = iter(draw(st.permutations(
        range(1, len(inner) + 2 * n_leaves + 6))))
    font, res, orphan, orphan_c, catalog = (next(nums) for _ in range(5))
    for n in inner:
        n["num"] = next(nums)
    cycle = draw(st.sampled_from(inner))
    objs = {font: _HELVETICA,
            res: b"<< /Font << /F1 " + str(font).encode() + b" 0 R >> >>",
            catalog: f"<< /Type /Catalog /Pages {root['num']} 0 R >>"
            .encode(),
            orphan: f"<< /Type /Page /Parent {root['num']} 0 R"
                    f" /Contents {orphan_c} 0 R >>".encode(),
            orphan_c: _stream(b"BT /F1 11 Tf 72 700 Td (orphan) Tj ET")}
    labels, heights = [], []

    def emit(n, parent, h):
        h = n["h"] or h
        refs = []
        for k in n["kids"]:
            if k is not None:
                refs.append(k["num"])
                emit(k, n["num"], h)
                continue
            page, content = next(nums), next(nums)
            label = f"p{len(labels)}"
            labels.append(label)
            heights.append(float(h))
            objs[content] = _stream(
                f"BT /F1 11 Tf 72 700 Td ({label}) Tj ET".encode())
            objs[page] = (f"<< /Type /Page /Parent {n['num']} 0 R"
                          f" /Contents {content} 0 R >>").encode()
            refs.append(page)
        if n is cycle:
            refs.insert(draw(st.integers(0, len(refs))), n["num"])
        body = (f"<< /Type /Pages /Kids [{' '.join(f'{r} 0 R' for r in refs)}]"
                f" /Count {len(refs)}")
        if n["h"]:
            body += f" /MediaBox [0 0 612 {n['h']}]"
        if n["res"]:
            body += f" /Resources {res} 0 R"
        if parent is not None:
            body += f" /Parent {parent} 0 R"
        objs[n["num"]] = (body + " >>").encode()

    emit(root, None, 792)
    return _hand_pdf(objs, catalog), labels, heights


@settings(max_examples=60, deadline=None)
@given(_page_trees())
def test_page_tree_walk_property(case):
    blob, labels, heights = case
    assert _texts(blob) == [[lb] for lb in labels]
    assert pdf_mini.extract_text_lines(blob) == [[lb] for lb in labels]
    assert pdf_mini.page_heights(blob) == heights
    assert (pdf_mini.page_count(blob)
            == len(pdf_mini.extract_page_images(blob)) == len(labels))


def test_fill_colour_before_bt_hides_text():
    # F2: a white fill set OUTSIDE BT…ET still paints the text after it
    # white; only the box stream drops it (PlainParser keeps every string)
    blob = _hand_pdf({
        1: _HELVETICA,
        2: _stream(b"1 g\nBT /F1 11 Tf 1 0 0 1 72 700 Tm (hidden white) Tj"
                   b" ET\n0 g\nBT 1 0 0 1 72 600 Tm (visible black) Tj ET"),
        3: b"<< /Type /Page /Parent 4 0 R"
           b" /Resources << /Font << /F1 1 0 R >> >> /Contents 2 0 R >>",
        4: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        5: b"<< /Type /Catalog /Pages 4 0 R >>",
    }, 5)
    assert _texts(blob) == [["visible black"]]
    assert pdf_mini.extract_text_lines(blob) == [["hidden white",
                                                  "visible black"]]


def test_fill_colour_restored_by_q_Q():
    # q 1 g … Q scopes the white fill: the black text after Q is kept
    blob = _hand_pdf({
        1: _HELVETICA,
        2: _stream(b"q 1 g\nBT /F1 11 Tf 1 0 0 1 72 700 Tm (hidden white)"
                   b" Tj ET\nQ\nBT 1 0 0 1 72 600 Tm (visible black) Tj"
                   b" ET"),
        3: b"<< /Type /Page /Parent 4 0 R"
           b" /Resources << /Font << /F1 1 0 R >> >> /Contents 2 0 R >>",
        4: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        5: b"<< /Type /Catalog /Pages 4 0 R >>",
    }, 5)
    assert _texts(blob) == [["visible black"]]


def test_inherited_resources_from_pages_node():
    # /Resources on the /Pages ANCESTOR, absent from the page dict
    c = b"BT\n/F1 11 Tf\n(inherited) Tj\nET"
    objs = [
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        b"<< /Length " + str(len(c)).encode() + b" >>\nstream\n" + c
        + b"\nendstream",
        b"<< /Type /Page /Parent 4 0 R /MediaBox [0 0 612 792]"
        b" /Contents 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1"
        b" /Resources << /Font << /F1 1 0 R >> >> >>",
        b"<< /Type /Catalog /Pages 4 0 R >>",
    ]
    out = bytearray(b"%PDF-1.4\n")
    for i, o in enumerate(objs, 1):
        out += f"{i} 0 obj\n".encode() + o + b"\nendobj\n"
    out += b"trailer\n<< /Size 6 /Root 5 0 R >>\n%%EOF\n"
    assert pdf_mini.extract_text_lines(bytes(out)) == [["inherited"]]


# ------------------------------------------------- scanned-page fallback


def _scanned_fixture():
    import numpy as np

    from ragflow_spark.operators.detect import synth_ocr_pages

    pages, truths = [], []
    for _m, p, w, h, texts in synth_ocr_pages(2):
        one = np.frombuffer(p, dtype=np.uint8).reshape(h, w, 3)
        im = np.concatenate([one] * 3, axis=0)
        pages.append((im.shape[1], im.shape[0], im.tobytes()))
        truths.append(texts * 3)
    return pdf_mini.build_scanned_pdf(pages), truths


def test_scanned_pdf_has_no_text_layer_but_images():
    blob, _truths = _scanned_fixture()
    assert pdf_mini.extract_text_lines(blob) == [[], []]
    imgs = pdf_mini.extract_page_images(blob)
    assert [m["page_number"] for pg in imgs for m in pg] == [1, 2]
    assert all(m["pixels"] is not None for pg in imgs for m in pg)
    # decoded pixels really round-trip the written raster
    w, h = imgs[0][0]["width"], imgs[0][0]["height"]
    assert len(imgs[0][0]["pixels"]) == w * h * 3


def test_scanned_pdf_gray_images_replicate_channels():
    import zlib as _z

    gray = bytes(range(16)) * 4  # 8x8 gray page
    comp = _z.compress(gray)
    objs = [
        b"<< /Type /XObject /Subtype /Image /Width 8 /Height 8"
        b" /ColorSpace /DeviceGray /BitsPerComponent 8 /Length "
        + str(len(comp)).encode() + b" /Filter /FlateDecode >>\nstream\n"
        + comp + b"\nendstream",
        b"<< /Length 20 >>\nstream\nq 8 0 0 8 0 0 cm /Im0 Do Q"
        b"\nendstream",
        b"<< /Type /Page /Parent 4 0 R /MediaBox [0 0 8 8]"
        b" /Resources << /XObject << /Im0 1 0 R >> >> /Contents 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Catalog /Pages 4 0 R >>",
    ]
    out = bytearray(b"%PDF-1.4\n")
    for i, o in enumerate(objs, 1):
        out += f"{i} 0 obj\n".encode() + o + b"\nendobj\n"
    out += b"trailer\n<< /Size 6 /Root 5 0 R >>\n%%EOF\n"
    imgs = pdf_mini.extract_page_images(bytes(out))
    px = imgs[0][0]["pixels"]
    assert len(px) == 8 * 8 * 3
    assert px[0:3] == bytes([0, 0, 0]) and px[3:6] == bytes([1, 1, 1])


def test_scanned_template_fallback_fake_backend():
    from ragflow_spark.core.templates import run_template

    blob, truths = _scanned_fixture()
    cks = run_template("naive", blob, "pdf", "English",
                       cfg={"ocr_backend": "fake"})
    joined = "\n".join(c.chunk_text for c in cks)
    assert all(t in joined for page in truths for t in page)
    # position spans carry real page numbers from the OCR boxes
    assert cks and cks[0].spans


@pytest.mark.parametrize("parser", ["paper", "manual", "book"])
def test_scanned_fallback_covers_all_layout_templates(parser):
    """The shared _layout_parse_ocr_fallback must route scanned input
    through EVERY layout-branch template, not just naive — each template's
    own merge/TOC flags then apply to the OCR boxes (corpus rev 2 puts
    scanned docs under naive/paper in the bench; manual/book are pinned
    here)."""
    from ragflow_spark.core.templates import run_template

    blob, truths = _scanned_fixture()
    cks = run_template(parser, blob, "pdf", "English",
                       cfg={"ocr_backend": "fake"})
    joined = "\n".join(c.chunk_text for c in cks)
    assert all(t in joined for page in truths for t in page), parser


def test_scanned_template_honest_default_raises():
    from ragflow_spark.core.templates import run_template

    blob, _ = _scanned_fixture()
    with pytest.raises(NotImplementedError, match="backend"):
        run_template("naive", blob, "pdf", "English")


def test_scanned_onnx_without_model_path_raises_value_error():
    """The scanned-PDF fallback with backend "onnx" and no model paths
    names the missing arguments instead of failing in os.stat(None)."""
    from ragflow_spark.core.pdf_layout import scanned_pdf_pages

    blob, _ = _scanned_fixture()
    with pytest.raises(ValueError, match="det_model_path and rec_model_path"):
        scanned_pdf_pages(blob, {"ocr_backend": "onnx"})


def test_scanned_undecodable_codec_raises_not_empty():
    from ragflow_spark.core.pdf_layout import scanned_pdf_pages

    jpeg = b"\xff\xd8\xff\xe0fakejpegbytes"
    objs = [
        b"<< /Type /XObject /Subtype /Image /Width 4 /Height 4"
        b" /ColorSpace /DeviceRGB /BitsPerComponent 8 /Length "
        + str(len(jpeg)).encode() + b" /Filter /DCTDecode >>\nstream\n"
        + jpeg + b"\nendstream",
        b"<< /Length 20 >>\nstream\nq 4 0 0 4 0 0 cm /Im0 Do Q"
        b"\nendstream",
        b"<< /Type /Page /Parent 4 0 R /MediaBox [0 0 4 4]"
        b" /Resources << /XObject << /Im0 1 0 R >> >> /Contents 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Catalog /Pages 4 0 R >>",
    ]
    out = bytearray(b"%PDF-1.4\n")
    for i, o in enumerate(objs, 1):
        out += f"{i} 0 obj\n".encode() + o + b"\nendobj\n"
    out += b"trailer\n<< /Size 6 /Root 5 0 R >>\n%%EOF\n"
    imgs = pdf_mini.extract_page_images(bytes(out))
    assert imgs[0][0]["pixels"] is None
    assert imgs[0][0]["format"] == "DCTDecode"
    with pytest.raises(NotImplementedError, match="DCTDecode"):
        scanned_pdf_pages(bytes(out), {"ocr_backend": "fake"})


def test_text_layer_pdf_never_enters_fallback():
    # a normal text PDF with no images: extract_page_images returns empty
    # per-page lists and scanned_pdf_pages says None
    from ragflow_spark.core.pdf_layout import scanned_pdf_pages

    blob = pdf_mini.build_simple_pdf([["real text line"]])
    assert pdf_mini.extract_page_images(blob) == [[]]
    assert scanned_pdf_pages(blob, {"ocr_backend": "fake"}) is None


# --------------------------------------------------------- template path


def test_plain_parse_cid_and_objstm_pdfs():
    # the PlainParser-equivalent surface consumes both transparently
    secs = pdf_mini.plain_parse(pdf_mini.build_cid_pdf([["中文一行"]]))
    assert [s for s, _ in secs] == ["中文一行"]
    secs = pdf_mini.plain_parse(pdf_mini.build_objstm_pdf([["packed"]]))
    assert [s for s, _ in secs] == ["packed"]


# ------------------------------------------------- literal-string escapes


def _unescape_loop(raw: bytes) -> bytes:
    """The per-byte escape loop ``_pdf_unescape_bytes`` replaced: the
    reference its output must equal byte for byte."""
    out = bytearray()
    i = 0
    while i < len(raw):
        b = raw[i]
        if b == 0x5C and i + 1 < len(raw):
            nxt = raw[i + 1]
            mapping = {
                ord("n"): b"\n", ord("r"): b"\r", ord("t"): b"\t",
                ord("b"): b"\b", ord("f"): b"\f", ord("("): b"(",
                ord(")"): b")", ord("\\"): b"\\",
            }
            if nxt in mapping:
                out += mapping[nxt]
                i += 2
                continue
            if 0x30 <= nxt <= 0x37:
                j = i + 1
                digits = b""
                while (j < len(raw) and len(digits) < 3
                       and 0x30 <= raw[j] <= 0x37):
                    digits += bytes([raw[j]])
                    j += 1
                out.append(int(digits, 8) & 0xFF)
                i = j
                continue
            i += 1
            continue
        out.append(b)
        i += 1
    return bytes(out)


@pytest.mark.parametrize("raw", [
    b"", b"plain text", b"a\\(b\\)c", b"tab\\tnl\\ncr\\rbs\\\\ff\\fbk\\b",
    b"\\101\\102C", b"\\7", b"\\07", b"\\0777", b"\\400", b"\\8\\9",
    b"\\1a\\12b\\123c\\1234", b"trailing\\", b"\\", b"\\\\\\",
    b"\\q\\x\\ \\\n\\\r\\\xff", b"\xe9\xff\x00\\)",
])
def test_unescape_matches_byte_loop_on_edges(raw):
    assert pdf_mini._pdf_unescape_bytes(raw) == _unescape_loop(raw)


@settings(max_examples=400, deadline=None)
@given(st.lists(st.one_of(
    st.sampled_from([b"\\", b"0", b"1", b"7", b"8", b"n", b"(", b")",
                     b"t", b"\n", b"q", b"\xff"]),
    st.binary(max_size=3)), max_size=24).map(b"".join))
def test_unescape_matches_byte_loop(raw):
    assert pdf_mini._pdf_unescape_bytes(raw) == _unescape_loop(raw)
