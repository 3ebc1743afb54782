"""Heuristic PDF layout path — the model-free backend of SURVEY §7.1.6.

The reference's full PDF pipeline (§3.3) interleaves ONNX vision models with
deterministic box algebra. The models are not vendored anywhere (weights
live on HuggingFace, absent in this sandbox), so this module implements the
deterministic stages over the positioned boxes that ``pdf_mini.extract_boxes``
recovers from the text layer:

- W1 ``sort_y_first``     reading-order sort with threshold bubble restore
                          (deepdoc/vision/recognizer.py:66-77)
- W3 ``text_merge``       horizontal merge of same-layout neighbors within
                          mean_height/3 (pdf_parser.py:334-363 — only the
                          live branch; lines 365-387 are dead code after the
                          ``continue`` and are intentionally not modeled)
- W4 ``naive_vertical_merge`` punctuation/pageno/gap heuristics deciding
                          concat vs break (pdf_parser.py:390-439)
- A1 per-page median char height (pdf_parser.py:995-1003)
- line tags: every merged box serializes its position as the
  ``@@pn\tx0\tx1\ttop\tbottom##`` tag (pdf_parser.py:843-857) — the span
  contract of the output schema.

All boxes get ``layoutno="text-0"`` (single-region assumption): without the
layout detector every box is body text; W3's layout guard then behaves as it
does in the reference after ``_layouts_rec``.
"""

from __future__ import annotations

import re
import statistics

from ragflow_spark.core import pdf_mini
from ragflow_spark.core.spans import line_tag


# F3: garbage-line regex bank (deepdoc/vision/layout_recognizer.py:56-61)
_GARBAGE_PATTERNS = [re.compile(p) for p in (
    r"^•+$", r"(版权归©|免责条款|地址[:：])", r"\.{3,}",
    r"^[0-9]{1,2} / ?[0-9]{1,2}$", r"^[0-9]{1,2} of [0-9]{1,2}$",
    r"^http://[^ ]{12,}", r"(资料|数据)来源[:：]",
    r"[0-9a-z._-]+@[a-z0-9-]+\.[a-z]{2,3}", r"\(cid *: *[0-9]+ *\)",
)]


def is_garbage_line(text: str) -> bool:
    return any(p.search(text) for p in _GARBAGE_PATTERNS)


def drop_repeated_chrome(pages: list[list[dict]], page_height: float = 792.0
                         ) -> list[list[dict]]:
    """F4/A6 for the heuristic backend (layout_recognizer.py:104-150): lines
    sitting in the header band (top 10%) or footer band (bottom 10%) whose
    text repeats across pages are page chrome — drop every occurrence.
    Single-occurrence banded lines survive (the reference's keep_feats
    position exemption covers mid-page false hits; our band test already
    excludes those)."""
    from collections import Counter

    counts: Counter = Counter()
    for page in pages:
        for b in page:
            if b["top"] < page_height * 0.1 or b["bottom"] > page_height * 0.9:
                counts[b["text"].strip()] += 1
    repeated = {t for t, c in counts.items() if c > 1 and t}
    out = []
    for page in pages:
        out.append([
            b for b in page
            if not (
                (b["top"] < page_height * 0.1 or b["bottom"] > page_height * 0.9)
                and b["text"].strip() in repeated
            )
        ])
    return out


def sort_y_first(boxes: list[dict], threshold: float) -> list[dict]:
    """Stable (top, x0) sort, then restore left-right order for boxes whose
    tops differ by less than ``threshold`` (same visual line)."""
    arr = sorted(boxes, key=lambda b: (b["top"], b["x0"]))
    for i in range(len(arr) - 1):
        for j in range(i, -1, -1):
            # tops ascend leftward; once the gap reaches the threshold no
            # earlier element can qualify → O(n·line_width), not O(n²)
            if arr[j + 1]["top"] - arr[j]["top"] >= threshold:
                break
            if arr[j + 1]["x0"] < arr[j]["x0"]:
                arr[j], arr[j + 1] = arr[j + 1], arr[j]
    return arr


def sort_x_by_page(boxes: list[dict], threshold: float) -> list[dict]:
    """W2 companion sort (pdf_parser.py:163-176): (page, x0, top) order with
    a bubble restore for boxes in the same column (x0 within threshold) —
    left column reads fully before the right column."""
    arr = sorted(boxes, key=lambda b: (b["page_number"], b["x0"], b["top"]))
    for i in range(len(arr) - 1):
        for j in range(i, -1, -1):
            if arr[j + 1]["page_number"] != arr[j]["page_number"]:
                break
            if arr[j + 1]["x0"] - arr[j]["x0"] >= threshold:
                break
            if arr[j + 1]["top"] < arr[j]["top"]:
                arr[j], arr[j + 1] = arr[j + 1], arr[j]
    return arr


def two_column_reorder(boxes: list[dict], page_width: float = 612.0
                       ) -> list[dict]:
    """W2 (rag/app/paper.py:49-58): when the median box width is under half
    the page width the document is two-column — re-sort X-first per page
    with threshold column_width/2."""
    if not boxes:
        return boxes
    widths = sorted(b["x1"] - b["x0"] for b in boxes)
    column_width = widths[len(widths) // 2]
    if column_width < page_width / 2:
        return sort_x_by_page(boxes, column_width / 2)
    return boxes


def _y_dis(a: dict, b: dict) -> float:
    return (b["top"] + b["bottom"] - a["top"] - a["bottom"]) / 2


def mean_heights(pages: list[list[dict]]) -> list[float]:
    out = []
    for page in pages:
        hs = [b["bottom"] - b["top"] for b in page]
        out.append(statistics.median(hs) if hs else 12.0)
    return out


def text_merge(boxes: list[dict], mean_height: list[float],
               max_gap: float | None = None) -> list[dict]:
    """W3: merge horizontally-adjacent same-layout boxes on the same visual
    line (vertical midpoint distance < mean_height/3).

    ``max_gap`` is the heuristic backend's stand-in for the layout
    detector's region separation: in the reference, boxes in different
    columns carry different ``layoutno`` and never merge; without a
    detector, a same-line pair separated by more than ``max_gap`` points is
    treated as a column boundary."""
    # output-list pattern (equivalent to the reference's pop(i+1) loop —
    # merges only ever involve consecutive survivors — but O(n), which
    # matters for multi-thousand-box giants)
    out: list[dict] = []
    for b_ in boxes:
        if out:
            b = out[-1]
            mergeable = not (
                b.get("layoutno", "0") != b_.get("layoutno", "1")
                or b.get("layout_type", "") in ("table", "figure", "equation")
            )
            if mergeable and (max_gap is None or b_["x0"] - b["x1"] <= max_gap):
                if abs(_y_dis(b, b_)) < mean_height[b["page_number"] - 1] / 3:
                    b["x1"] = b_["x1"]
                    b["top"] = (b["top"] + b_["top"]) / 2
                    b["bottom"] = (b["bottom"] + b_["bottom"]) / 2
                    b["text"] += b_["text"]
                    continue
        out.append(b_)
    return out


def naive_vertical_merge(
    boxes: list[dict],
    mean_height: list[float],
    mean_width: list[float],
    is_english: bool,
) -> list[dict]:
    """W4 (pdf_parser.py:390-439): sort into reading order, then walk pairs
    deciding merge vs break from punctuation, layout, page-gap and
    x-detachment features."""
    bxs = sort_y_first(boxes, statistics.median(mean_height) / 3 if mean_height else 4)
    out: list[dict] = []
    for b_ in bxs:
        while out:
            b = out[-1]
            # lone page-number line straddling a page break: drop it and
            # reconsider the merge against the box before it
            if b["page_number"] < b_["page_number"] and re.match(
                r"[0-9  •一—-]+$", b["text"]
            ):
                out.pop()
                continue
            if not b["text"].strip():
                out.pop()
                continue
            break
        if not out:
            out.append(b_)
            continue
        b = out[-1]
        concatting = [
            b["text"].strip()[-1] in ",;:'\"，、‘“；：-",
            len(b["text"].strip()) > 1 and b["text"].strip()[-2] in ",;:'\"，‘“、；：",
            bool(b_["text"].strip()) and b_["text"].strip()[0] in "。；？！?”）),，、：",
        ]
        breaking = [
            b.get("layoutno", 0) != b_.get("layoutno", 0),
            b["text"].strip()[-1] in "。？！?",
            is_english and b["text"].strip()[-1] in ".!?",
            b["page_number"] == b_["page_number"]
            and b_["top"] - b["bottom"] > mean_height[b["page_number"] - 1] * 1.5,
            b["page_number"] < b_["page_number"]
            and abs(b["x0"] - b_["x0"]) > mean_width[b["page_number"] - 1] * 4,
        ]
        detach = [b["x1"] < b_["x0"], b["x0"] > b_["x1"]]
        if (any(breaking) and not any(concatting)) or any(detach):
            out.append(b_)
            continue
        b["bottom"] = b_["bottom"]
        b["text"] += b_["text"]
        b["x0"] = min(b["x0"], b_["x0"])
        b["x1"] = max(b["x1"], b_["x1"])
    return out


# pages per independent layout window — the reference's task_page_size
# (api/db/services/task_service.py:166): bounds the O(n·line) sorts and
# merge walks per window; merges never cross task boundaries there either
TASK_PAGE_SIZE = 12


def layout_parse(
    blob: bytes, lang: str = "English",
    from_page: int = 0, to_page: int = 100000,
    two_column: bool = False,
    return_tables: bool = False,
    merge_mode: str = "naive",
    toc_filter: bool = False,
    same_bullet: bool = False,
    pages: list[list[dict]] | None = None,
):
    """The heuristic analog of ``RAGFlowPdfParser.__call__`` for text-layer
    PDFs: boxes → reading-order sort → W3 → W4/W5 → [(text, position_tag)].
    ONE call = ONE task's page range, exactly like the reference's
    ``Pdf.__call__(from_page, to_page)``; the production page-range task
    splitting (api/db/services/task_service.py:164-186 — 12 pages/task,
    22 for paper, whole-doc for one) lives in
    ``templates.run_template``, which calls the full template once per
    window like ``task_executor`` dispatching FACTORY[parser].chunk per
    task. Position tags stay DOCUMENT-absolute (the reference's are
    task-local; ours carry real page numbers into the spans contract —
    documented deviation, invisible to the strip-tag A/B).

    ``merge_mode`` selects the vertical merge tier, matching which one each
    reference template runs:
    - ``"naive"``  — W4 ``_naive_vertical_merge`` (book.py:46, laws.py:126)
    - ``"updown"`` — W5 ``_concat_downward`` with the pluggable scorer
      (naive.py:150, one.py:47, paper.py:50, manual.py:60); in this mode
      ``two_column=True`` applies the reference paper pipeline's
      post-concat X-sort when the pre-concat median box width is under
      half the page (paper.py:49-58), and ``toc_filter=True`` runs the
      box-level TOC removal (``_filter_forpages``, paper/manual).

    ``return_tables=True`` additionally runs the TSR-lite tier (J3/J4/J5 +
    X9 render, the heuristic analog of ``_extract_table_figure``,
    pdf_parser.py:625-817) and returns ``(sections, tables)`` where each
    table is ``(html_text, position_tag)`` — HTML because that is the naive
    /paper/book PDF contract (``return_html=True``, rag/app/naive.py:148)."""
    # ``pages`` lets the per-window caller (run_template's task split)
    # parse the char layer ONCE per doc instead of once per window; the
    # windows slice disjoint page ranges so in-place box mutation is safe
    all_pages = pdf_mini.extract_boxes(blob) if pages is None else pages
    all_pages = all_pages[from_page:to_page]
    if not all_pages:
        return ([], []) if return_tables else []
    # F3 + F4/A6: garbage lines and cross-page repeated header/footer chrome
    all_pages = [
        [b for b in page if not is_garbage_line(b["text"])]
        for page in all_pages
    ]
    all_pages = drop_repeated_chrome(all_pages)
    out, tables = _layout_parse_window(
        all_pages, lang, two_column, from_page,
        extract_tables=return_tables, merge_mode=merge_mode,
        toc_filter=toc_filter, same_bullet=same_bullet,
    )
    if return_tables:
        return out, tables
    return out


def scanned_pdf_pages(blob: bytes, cfg: dict | None = None
                      ) -> list[list[dict]] | None:
    """OCR fallback for image-only ("scanned") PDFs: extract each page's
    embedded raster (pdf_mini.extract_page_images), OCR it, and return
    per-page LAYOUT boxes shaped exactly like ``pdf_mini.extract_boxes``
    output — so ``layout_parse(pages=…)`` runs the identical downstream
    the text layer uses (mirroring the reference, whose OCR boxes and
    char boxes share one pipeline: pdf_parser.py ``__ocr`` feeding
    ``_layouts_rec``). Returns None when no page has a decodable image
    (nothing to OCR — the caller keeps its empty text-layer result).

    Each page raster goes through ``operators.detect.ocr_image_boxes``,
    the same det → crop → rec loop the distributed ``ocr_images`` runs.
    ``cfg["ocr_backend"]`` selects the detector/recognizer backend; the
    default "none" raises NotImplementedError (honest: this sandbox has
    no ONNX runtime/weights; "fake" exercises the full plumbing), and
    "onnx" raises ValueError unless ``cfg["det_model_path"]`` and
    ``cfg["rec_model_path"]`` are set."""
    cfg = cfg or {}
    import numpy as np

    from ragflow_spark.operators.detect import ocr_image_boxes

    img_pages = pdf_mini.extract_page_images(blob)
    all_imgs = [im for page in img_pages for im in page]
    if not any(im["pixels"] is not None for im in all_imgs):
        if all_imgs:
            # images exist but none decodes (e.g. DCTDecode = embedded
            # JPEG): silently returning nothing would look like an empty
            # doc — the reference OCRs these via its rasterizer
            codecs = sorted({im["format"] for im in all_imgs})
            raise NotImplementedError(
                "scanned-PDF fallback: page images use codec(s) "
                f"{codecs} with no decoder in this sandbox"
            )
        return None
    pages: list[list[dict]] = []
    for page_no, imgs in enumerate(img_pages, start=1):
        boxes: list[dict] = []
        # one full-page scan per page is the scanned-doc shape; OCR the
        # first decodable raster (documented simplification)
        im_meta = next((m for m in imgs if m["pixels"] is not None), None)
        if im_meta is not None:
            arr = np.frombuffer(im_meta["pixels"], dtype=np.uint8).reshape(
                im_meta["height"], im_meta["width"], 3)
            for quad, text, _conf in ocr_image_boxes(
                    arr,
                    backend=cfg.get("ocr_backend", "none"),
                    det_model_path=cfg.get("det_model_path"),
                    rec_model_path=cfg.get("rec_model_path")):
                if not text:
                    continue
                xs, ys = quad[:, 0], quad[:, 1]
                boxes.append({
                    "text": text,
                    "x0": float(xs.min()), "x1": float(xs.max()),
                    "top": float(ys.min()), "bottom": float(ys.max()),
                    "page_number": page_no,
                })
        pages.append(boxes)
    return pages


def parse_pdf_general(blob: bytes, lang: str = "English") -> str:
    """The base parser's generic ``__call__`` surface
    (pdf_parser.py:1031-1040): text merge → W5 up-down concat → TOC filter
    → F6 scrap filter, returning the kept chains as one string — chains
    joined by blank lines, lines carrying their position tags. This is the
    contract users of ``RAGFlowPdfParser()(path)`` get; the in-scope chunk
    templates use their own per-app pipelines (see ``layout_parse``)."""
    from ragflow_spark.core import updown

    all_pages = pdf_mini.extract_boxes(blob)
    if not all_pages:
        return ""
    all_pages = [
        [b for b in page if not is_garbage_line(b["text"])]
        for page in all_pages
    ]
    all_pages = drop_repeated_chrome(all_pages)
    page_h, page_w = 792.0, 612.0
    out_blocks: list[str] = []
    for w in range(0, len(all_pages), TASK_PAGE_SIZE):
        pages = all_pages[w:w + TASK_PAGE_SIZE]
        mh = mean_heights(pages)
        mw = []
        for page in pages:
            ws = [
                (b["x1"] - b["x0"]) / max(1, len(b["text"]))
                for b in page if b["text"]
            ]
            mw.append(statistics.median(ws) if ws else 6.0)
        cum = [0.0]
        for _ in pages:
            cum.append(cum[-1] + page_h)
        boxes = []
        for pn, page in enumerate(pages):
            for b in sort_y_first(page, mh[pn] / 3):
                b["top"] += cum[pn]
                b["bottom"] += cum[pn]
                b["page_number"] = pn + 1
                boxes.append(b)
        boxes = text_merge(boxes, mh, max_gap=8 * statistics.median(mw))
        updown.assign_pseudo_regions(boxes, mh)
        boxes = updown.concat_downward(boxes, mh, mw)
        boxes = updown.filter_forpages(boxes, len(pages))
        # the scrap filter judges usefulness by raw width/height statistics
        # — strip the pseudo layout_type (a geometric guess, not detector
        # evidence) so it cannot blanket-qualify every box
        for b in boxes:
            b.pop("layout_type", None)
            b.pop("layoutno", None)
        chains = updown.filterout_scraps(boxes, page_w, mh)
        for chain in chains:
            lines = []
            for c in chain:
                off = cum[c["page_number"] - 1]
                top, bott = c["top"] - off, c["bottom"] - off
                # W5 merges can cross pages: extend the tag's page list
                # like _layout_parse_window (pdf_parser.py:848-856)
                pn, extra = c["page_number"], []
                while bott > page_h and pn < len(pages):
                    bott -= page_h
                    pn += 1
                    extra.append(pn + w)
                lines.append(c["text"] + line_tag(
                    c["page_number"] + w,
                    c["x0"], c["x1"], top, bott, extra_pages=extra,
                ))
            out_blocks.append("\n".join(lines))
    return "\n\n".join(out_blocks)


def _layout_parse_window(
    pages: list[list[dict]], lang: str, two_column: bool, page_offset: int,
    extract_tables: bool = False,
    merge_mode: str = "naive",
    toc_filter: bool = False,
    same_bullet: bool = False,
) -> tuple[list[tuple[str, str]], list[tuple[str, str]]]:
    mh = mean_heights(pages)
    mw = []
    for page in pages:
        ws = [
            (b["x1"] - b["x0"]) / max(1, len(b["text"]))
            for b in page if b["text"]
        ]
        mw.append(statistics.median(ws) if ws else 6.0)
    # cumulative-Y rebase (pdf_parser.py:323-332): later pages sit below
    # earlier ones so the global reading-order sort is well-defined; tags
    # subtract the page offset back (pdf_parser.py:845-846)
    page_h = 792.0
    cum = [0.0]
    for _ in pages:
        cum.append(cum[-1] + page_h)
    per_page: list[list[dict]] = []
    for pn, page in enumerate(pages):
        pb = []
        for b in sort_y_first(page, mh[pn] / 3):
            b["layoutno"] = "text-0"
            b["top"] += cum[pn]
            b["bottom"] += cum[pn]
            # window-local 1-based page for mean_height/cum lookups; the
            # global page number is restored on the tag below
            b["page_number"] = pn + 1
            pb.append(b)
        per_page.append(pb)

    tables_out: list[tuple[str, str]] = []
    if merge_mode == "laws":
        # laws.Pdf (laws.py:118-133) runs _layouts_rec → W4 ONLY: no W3
        # text merge, no table extraction. Table cells stay inline in the
        # flow; their region labels (and caption labels) only bound the W4
        # merge the way the detector's layoutnos would.
        from ragflow_spark.core import tsr_lite

        per_page_regs = []
        for pb in per_page:
            regs, _rest = tsr_lite.detect_table_regions(list(pb))
            for k, reg in enumerate(regs):
                for b in reg:
                    b["layoutno"] = f"table-{k}"
            per_page_regs.append(regs)
        if any(per_page_regs):
            for pb in per_page:
                cc = 0
                for b in pb:
                    if b["layoutno"].startswith("table-"):
                        continue
                    if tsr_lite.is_caption_text(b["text"]):
                        b["layoutno"] = f"table caption-{cc}"
                        cc += 1
        boxes = [b for pb in per_page for b in pb]
        boxes = naive_vertical_merge(boxes, mh, mw,
                                     lang.lower() == "english")
    elif extract_tables:
        from ragflow_spark.core import tsr_lite

        regions: list[list[dict]] = []
        boxes = []
        for pb in per_page:
            regs, rest = tsr_lite.detect_table_regions(pb)
            regions.extend(regs)
            boxes.extend(rest)
        regions = tsr_lite.merge_cross_page_tables(regions, mh)
        boxes = tsr_lite.pair_captions(regions, boxes)
        eng = lang.lower() == "english"
        for bxs in regions:
            html_txt = tsr_lite.construct_table(list(bxs), eng, html=True)
            if not html_txt:
                continue
            pns = sorted({b["page_number"] for b in bxs})
            off = cum[pns[0] - 1]
            tag = line_tag(
                pns[0] + page_offset,
                min(b["x0"] for b in bxs), max(b["x1"] for b in bxs),
                min(b["top"] for b in bxs) - off,
                max(b["bottom"] for b in bxs) - off,
                extra_pages=[p + page_offset for p in pns[1:]],
            )
            tables_out.append((html_txt, tag))
    else:
        boxes = [b for pb in per_page for b in pb]
    if merge_mode != "laws":
        boxes = text_merge(boxes, mh, max_gap=8 * statistics.median(mw))
    if merge_mode in ("none", "laws"):
        # line-level output: the qa Pdf pipeline runs neither vertical
        # merge nor concat (qa.py:93-97 — both calls commented out there)
        pass
    elif merge_mode == "updown":
        from ragflow_spark.core import updown

        # paper.py:49: column width is measured BEFORE the concat
        col_w = None
        if two_column and boxes:
            ws = sorted(b["x1"] - b["x0"] for b in boxes)
            col_w = ws[len(ws) // 2]
        updown.assign_pseudo_regions(boxes, mh)
        boxes = updown.concat_downward(boxes, mh, mw)
        if toc_filter:
            boxes = updown.filter_forpages(boxes, len(pages))
        if col_w is not None and col_w < 612.0 / 2:
            boxes = sort_x_by_page(boxes, col_w / 2)
    elif two_column:
        # paper pipeline (paper.py:49-58): column detection + X-first
        # reorder replaces the naive vertical merge (which would re-sort Y)
        boxes = two_column_reorder(boxes)
    else:
        boxes = naive_vertical_merge(boxes, mh, mw, lang.lower() == "english")
        if toc_filter:
            # book order (book.py:46-50): W4 → _filter_forpages → W6
            from ragflow_spark.core import updown

            boxes = updown.filter_forpages(boxes, len(pages))
        if same_bullet:
            from ragflow_spark.core import updown

            boxes = updown.merge_with_same_bullet(boxes)
    sections = []
    # NOTE: whitespace-only boxes are NOT filtered here. The reference
    # drops them only inside _naive_vertical_merge's pair walk
    # (pdf_parser.py:402-404, mirrored in naive_vertical_merge above,
    # including the final box escaping the check) — the _concat_downward
    # templates (naive/paper/manual/one) emit them as sections, and the
    # fuzz A/B (tests/test_fuzz_ab_templates.py) pins that behavior.
    for b in boxes:
        off = cum[b["page_number"] - 1]
        top, bott = b["top"] - off, b["bottom"] - off
        # W5 can merge across pages: extend the tag's page list while the
        # bottom overruns the page, reducing bottom into the last page's
        # coordinates (pdf_parser.py:848-856 _line_tag)
        pn, extra = b["page_number"], []
        while bott > page_h and pn < len(pages):
            bott -= page_h
            pn += 1
            extra.append(pn + page_offset)
        tag = line_tag(
            b["page_number"] + page_offset,
            b["x0"], b["x1"], top, bott, extra_pages=extra,
        )
        sections.append((b["text"], tag))
    return sections, tables_out
