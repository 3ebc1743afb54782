"""Import /root/reference modules with their asset/binary deps stubbed,
for direct A/B parity tests (the reference's own code executing against
ours). Token counting and tokenization route through OUR deterministic
stand-ins on both sides — those are the documented deviations — so any
remaining difference is an implementation divergence."""

from __future__ import annotations

import os
import sys
import types

import pytest

REFERENCE = "/root/reference"

# The A/B tests execute the reference's own source; where that tree is
# not checked out they are skipped (not errored at the import), and
# byte identity rests on tests/goldens/ and the perfbench gates alone.
requires_reference = pytest.mark.skipif(
    not os.path.isdir(os.path.join(REFERENCE, "rag")),
    reason=f"reference source tree not found at {REFERENCE}")

_READY = False


class _AnyAttrModule(types.ModuleType):
    """Module stub that yields a benign constant for any attribute —
    enough for modules only touched inside methods we never call (cv2
    constants in default args, etc.)."""

    def __getattr__(self, name):
        if name.startswith("__"):
            raise AttributeError(name)
        return 0


def install_reference_stubs() -> None:
    global _READY
    if _READY:
        return
    from ragflow_spark.core.tokens import num_tokens_from_string as our_nts
    from ragflow_spark.core.updown import default_tokenize

    class _Enc:
        def encode(self, s):
            return list(range(our_nts(s)))

        def decode(self, toks):
            return ""

    def _mod(name, **attrs):
        # never shadow a REAL installed module (openpyxl/pandas etc. must
        # stay genuine); update attrs on prior stubs, fabricate the rest
        existing = sys.modules.get(name)
        if existing is not None and getattr(existing, "__spec__", None) \
                is not None and not isinstance(existing, _AnyAttrModule):
            return existing  # real module
        if existing is None:
            try:
                __import__(name)
                return sys.modules[name]
            except Exception:
                pass
        m = existing or types.ModuleType(name)
        for k, v in attrs.items():
            setattr(m, k, v)
        if getattr(m, "__spec__", None) is None:
            # a None __spec__ makes importlib.util.find_spec raise
            # ValueError for the stubbed name — pyspark's session init
            # probes optional deps (openpyxl) that way, so a stub with
            # no spec breaks any Spark session created after stub install
            import importlib.machinery as _mach

            m.__spec__ = _mach.ModuleSpec(name, loader=None)
        sys.modules[name] = m
        return m

    def _raise(exc):
        def f(s):
            raise exc(s)
        return f

    _mod("tiktoken", get_encoding=lambda name: _Enc())
    pil_img = _AnyAttrModule("PIL.Image")
    pil_img.Image = type("Image", (), {})
    pil_img.new = lambda mode, size, color=None: _FakeImg(*size)
    pil_img.alpha_composite = lambda a, b: a
    pil_img.open = lambda buf: _FakeImg(1, 1)
    import importlib.machinery as _mach0

    pil_img.__spec__ = _mach0.ModuleSpec("PIL.Image", loader=None)
    sys.modules["PIL.Image"] = pil_img
    _mod("PIL", Image=pil_img)
    _mod("roman_numbers", number=_raise(ValueError))
    w2n_sub = _mod("word2number.w2n", word_to_num=_raise(ValueError))
    _mod("word2number", w2n=w2n_sub)
    _mod("cn2an", cn2an=_raise(ValueError))
    fu = _mod("api.utils.file_utils",
              get_project_base_directory=lambda: "/tmp",
              traversal_files=lambda p: [])
    au = _mod("api.utils", file_utils=fu)
    _mod("api.settings", LIGHTEN=1)
    svc = _mod("api.db.services.knowledgebase_service",
               KnowledgebaseService=object)
    dbs = _mod("api.db.services", knowledgebase_service=svc)
    dbm = _mod("api.db", services=dbs, ParserType=object)
    _mod("api", utils=au, settings=sys.modules["api.settings"], db=dbm)
    _mod("rag.nlp.rag_tokenizer",
         tokenize=lambda s: " ".join(default_tokenize(s)),
         fine_grained_tokenize=lambda s: s,
         is_chinese=lambda c: "一" <= c <= "鿿",
         tag=lambda t: "")
    sys.modules.setdefault("cv2", _AnyAttrModule("cv2"))
    _mod("onnxruntime")
    _mod("pdfplumber", open=_raise(RuntimeError))

    # functional pypdf facade: the reference's PlainParser
    # (pdf_parser.py:1140-1166) consumes pages[].extract_text() and the
    # nested .outline list. Backed by the SAME pdf_mini primitives our
    # plain_parse/extract_outlines use (shared stand-in, like the vision
    # tier) so the A/B exercises the reference's logic ABOVE the
    # primitive: page windowing, line splitting, outline DFS, template
    # consumption of tag-free sections.
    class _PyPdfPage:
        def __init__(self, text):
            self._text = text

        def extract_text(self):
            return self._text

    class _PyPdfReader:
        def __init__(self, src):
            from ragflow_spark.core import pdf_mini as _pm

            blob = src.read() if hasattr(src, "read") else open(
                src, "rb").read()
            self.pages = [
                _PyPdfPage("\n".join(lines))
                for lines in _pm.extract_text_lines(blob)
            ]
            # pypdf's outline is a NESTED list (depth = nesting level,
            # walked by the reference's dfs) — rebuild the nesting from
            # extract_outlines' flat (title, depth) pairs
            self.outline = []
            stack = [self.outline]
            for title, depth in _pm.extract_outlines(blob):
                while len(stack) <= depth:
                    sub = []
                    stack[-1].append(sub)
                    stack.append(sub)
                del stack[depth + 1:]
                stack[depth].append({"/Title": title})

    _mod("pypdf", PdfReader=_PyPdfReader)
    _mod("PyPDF2", PdfReader=_PyPdfReader)

    class _DMatrix:
        def __init__(self, rows):
            self.rows = rows

    _mod("xgboost", DMatrix=_DMatrix, Booster=object)
    _mod("huggingface_hub", snapshot_download=lambda **kw: "/tmp")
    shp = _mod("shapely")
    shp_geom = _mod("shapely.geometry", Polygon=object)
    shp.geometry = shp_geom
    sys.modules.setdefault("pyclipper", _AnyAttrModule("pyclipper"))
    # functional office facades (tests/refoffice.py) — the reference's
    # docx/xlsx/pptx parser paths execute for real over stdlib-parsed OOXML
    import refoffice

    docx_img_exc = _mod("docx.image.exceptions",
                        UnrecognizedImageError=type("E1", (Exception,), {}),
                        UnexpectedEndOfFileError=type("E2", (Exception,), {}),
                        InvalidImageStreamError=type("E3", (Exception,), {}))
    docx_img = _mod("docx.image", exceptions=docx_img_exc)
    _mod("docx", Document=refoffice.DocxDocument, image=docx_img)
    _mod("openpyxl", load_workbook=refoffice.load_workbook,
         Workbook=refoffice.Workbook)
    _mod("pptx", Presentation=refoffice.Presentation)
    asl = _mod("aspose.slides", Presentation=refoffice.AsposePresentation)
    drw_fmt = types.SimpleNamespace(jpeg=0)
    apd = _mod("aspose.pydrawing",
               imaging=types.SimpleNamespace(ImageFormat=drw_fmt))
    _mod("aspose", slides=asl, pydrawing=apd)
    # the real `markdown` pkg is absent; route the reference's rendering
    # through OUR stand-in (mimics the markdown-pkg shape for the two
    # call-site input classes: pure tables -> <table> HTML, prose ->
    # <p> paragraphs) — shared on both sides like the tokenizer, so
    # template A/Bs compare everything EXCEPT the renderer itself
    from ragflow_spark.core.qa import md_to_html_lite

    _mod("markdown", markdown=lambda s, **kw: md_to_html_lite(s))
    tika = _mod("tika")
    tika.parser = types.SimpleNamespace(
        from_buffer=lambda b: {"content": ""})
    _mod("tika.parser", from_buffer=tika.parser.from_buffer)
    sys.modules.setdefault("chardet", _AnyAttrModule("chardet"))

    # readability-lxml + html_text are absent: route the reference's
    # RAGFlowHtmlParser through OUR Arc90 extractor (core/html_extract),
    # the documented S2 stand-in — shared on both sides, so html-path
    # template A/Bs compare everything DOWNSTREAM of main-content
    # extraction (section split, merges, tokenize_chunks) for real
    from ragflow_spark.core import html_extract as _he

    class _RefDoc:
        def __init__(self, txt, **kw):
            self._title, self._content = _he.extract(txt)

        def title(self):
            return self._title

        def summary(self, html_partial=False):
            return self._content

    _mod("readability", Document=_RefDoc)
    _mod("html_text", extract_text=lambda s: s)

    if REFERENCE not in sys.path:
        sys.path.append(REFERENCE)
    _READY = True


def load_ref_nlp():
    install_reference_stubs()
    import rag.nlp as ref_nlp

    return ref_nlp


def load_ref_pdf_parser():
    """The RAGFlowPdfParser CLASS without running its model-loading
    __init__ — callers set the per-doc attrs (boxes, mean_height, ...)
    and drive individual stages."""
    install_reference_stubs()
    from deepdoc.parser.pdf_parser import RAGFlowPdfParser

    return RAGFlowPdfParser


def load_ref_tsr():
    install_reference_stubs()
    from deepdoc.vision.table_structure_recognizer import (
        TableStructureRecognizer,
    )

    return TableStructureRecognizer


def load_ref_recognizer():
    install_reference_stubs()
    from deepdoc.vision.recognizer import Recognizer

    return Recognizer


class _FakeImg:
    """PIL-free page image: just enough surface (.size/.crop) for
    _extract_table_figure's cropout and the templates' size reads."""

    def __init__(self, w, h):
        self.size = (w, h)

    def crop(self, box):
        return _FakeImg(max(1.0, box[2] - box[0]), max(1.0, box[3] - box[1]))

    def paste(self, img, box):
        pass

    def save(self, *a, **k):
        pass

    def convert(self, mode):
        return self

    def putalpha(self, v):
        pass


def template_pdf_instance(pdf_cls, blob, lang="English"):
    """object.__new__(pdf_cls) driving the reference template's REAL
    ``Pdf.__call__`` orchestration on a text-layer PDF, with exactly the
    vision tier stubbed to the same heuristic proposals our pipeline uses
    (the shared stand-in): __images__ -> our pdf_mini char scan + garbage/
    chrome prefilter, layouter -> our tsr_lite.detect_table_regions region
    proposals tagged through the reference walk's contract, TSR model ->
    no-op (geometry fallback on both sides), up-down booster -> our
    rule_score, pseudo-region labels injected before _concat_downward on
    both sides. Everything else (_text_merge, _extract_table_figure,
    merges, filters, _line_tag, construct_table) is the reference's own
    code executing."""
    import statistics

    import numpy as np

    from ragflow_spark.core import pdf_layout, pdf_mini, tsr_lite, updown

    obj = object.__new__(pdf_cls)

    def images_stub(fnm, zoomin=3, page_from=0, page_to=299, callback=None):
        # raw char-scan boxes only — garbage/chrome dropping happens in the
        # layouter shim below, where the reference's own garbage drops live
        # (LayoutRecognizer.__call__); presentation's Pdf reads self.boxes
        # BEFORE _layouts_rec and must see the unfiltered flow
        pages = pdf_mini.extract_boxes(blob)[page_from:page_to]
        mh = pdf_layout.mean_heights(pages)
        mw = []
        for page in pages:
            ws = [(b["x1"] - b["x0"]) / max(1, len(b["text"]))
                  for b in page if b["text"]]
            mw.append(statistics.median(ws) if ws else 6.0)
        obj.mean_height, obj.mean_width = mh, mw
        obj.page_cum_height = np.cumsum([0.0] + [792.0] * len(pages))
        obj.page_images = [_FakeImg(612 * zoomin, 792 * zoomin)
                           for _ in pages]
        obj.page_from = page_from
        obj.total_page = len(pages)
        obj.lefted_chars = []
        obj.outlines = []
        obj.is_english = lang.lower() == "english"
        obj.page_layout = []
        per_page = []
        for pn, page in enumerate(pages):
            pb = pdf_layout.sort_y_first(page, mh[pn] / 3)
            for b in pb:
                b["page_number"] = pn + 1
            per_page.append(pb)
        obj.boxes = per_page

    def layouter(images, ocr_res, zm, drop=True):
        # F3/F4 prefilter — the stand-in for the reference's __is_garbage
        # pops + repeated-text garbage sweep (layout_recognizer.py:55-60,
        # 143-151), applied at the same pipeline position
        ocr_res = [
            [b for b in page if not pdf_layout.is_garbage_line(b["text"])]
            for page in ocr_res
        ]
        ocr_res = pdf_layout.drop_repeated_chrome(ocr_res)
        boxes, page_layout, per_page_regs = [], [], []
        for pn, page in enumerate(ocr_res):
            regs, _rest = tsr_lite.detect_table_regions(list(page))
            louts = []
            for k, reg in enumerate(regs):
                for b in reg:
                    b["layoutno"] = f"table-{k}"
                    b["layout_type"] = "table"
                louts.append({
                    "type": "table", "score": 1.0,
                    "x0": min(b["x0"] for b in reg),
                    "x1": max(b["x1"] for b in reg),
                    "top": min(b["top"] for b in reg),
                    "bottom": max(b["bottom"] for b in reg),
                    "page_number": pn,
                })
            page_layout.append(louts)
            per_page_regs.append(regs)
        any_regs = any(per_page_regs)
        for pn, page in enumerate(ocr_res):
            cc = 0
            for b in page:
                if b.get("layout_type") == "table":
                    continue
                if any_regs and tsr_lite.is_caption_text(b["text"]):
                    # caption proposals are part of the detector stand-in
                    # (our tsr_lite pairs them window-globally; the
                    # reference's is_caption needs the detector's "table
                    # caption" layout_type for non-CJK captions)
                    b["layoutno"] = f"table caption-{cc}"
                    b["layout_type"] = "table caption"
                    cc += 1
                else:
                    b["layoutno"] = "text-0"
                    b["layout_type"] = "text"
            boxes.extend(page)
        return boxes, page_layout

    setattr(obj, "__images__", images_stub)
    obj.layouter = layouter
    obj._table_transformer_job = lambda zm: None
    obj.tbl_det = load_ref_tsr()

    real_concat = load_ref_pdf_parser()._concat_downward

    def concat_with_regions(concat_between_pages=True):
        updown.assign_pseudo_regions(obj.boxes, obj.mean_height)
        real_concat(obj, concat_between_pages)

    obj._concat_downward = concat_with_regions

    class _Mdl:
        def predict(self, dmatrix):
            # the SAME trained stand-in our pipeline defaults to — both
            # sides of the A/B run one scorer in the booster slot
            return [updown.booster_score(fea) for fea in dmatrix.rows]

    obj.updown_cnt_mdl = _Mdl()
    return obj


def bare_pdf_parser(mean_height, mean_width, page_sizes=None,
                    page_cum_height=None, predict=None):
    """object.__new__ instance with the attrs the W/F stages read; the
    up-down booster slot takes any predict(fea)->score callable."""
    cls = load_ref_pdf_parser()
    obj = object.__new__(cls)
    obj.mean_height = list(mean_height)
    obj.mean_width = list(mean_width)
    obj.page_cum_height = list(page_cum_height or [0.0])
    obj.lefted_chars = []
    obj.boxes = []

    class _Img:
        def __init__(self, wh):
            self.size = wh

    obj.page_images = [_Img(wh) for wh in (page_sizes or [])]

    class _Mdl:
        def predict(self, dmatrix):
            return [predict(fea) for fea in dmatrix.rows]

    if predict is not None:
        obj.updown_cnt_mdl = _Mdl()
    return obj
