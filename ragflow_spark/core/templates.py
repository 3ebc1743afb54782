"""Chunk templates: the ``chunk()`` entry points of the reference's
rag/app tier, re-expressed as pure functions ``(bytes|str, fmt, lang, cfg)
-> list[Chunk]``.

Models:
- naive  — rag/app/naive.py:185-303 (format dispatch → sections →
  naive_merge → chunks; ``section_only`` text contract at :224-225,297-299)
- book   — rag/app/book.py:58-142 (make_colon_as_title → bullets_category →
  hierarchical_merge depth 5, else naive_merge 256)
- paper  — rag/app/paper.py:131-199 on the PlainParser path (title/authors
  from metadata, bullet pivot via title_frequency, section-id run merge)

Every template returns ``list[ChunkOut]`` where ``tag_text`` keeps any
``@@..##`` position tags byte-for-byte and ``chunk_text`` is the tag-stripped
display text (the reference's ``pdf_parser.remove_tag`` step in
``tokenize_chunks``, rag/nlp/__init__.py:241-246).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from ragflow_spark.core import html_extract, jsonsplit, markdown, pdf_mini, txt
from ragflow_spark.core.codec import decode_bytes
from ragflow_spark.core.merges import (
    hierarchical_merge,
    make_colon_as_title,
    naive_merge,
    remove_contents_table,
)
from ragflow_spark.core.patterns import bullets_category, is_english
from ragflow_spark.core.spans import Span, parse_spans, remove_tag
from ragflow_spark.core.merges import title_frequency


@dataclass
class ChunkOut:
    chunk_idx: int
    chunk_text: str      # tag-stripped display text
    tag_text: str        # text incl. position tags (byte-identity contract)
    spans: list[Span] = field(default_factory=list)
    title: str = ""


DEFAULT_CFG = {"chunk_token_num": 128, "delimiter": "\n!?。；！？"}


def _finish(chunks: list[str], title: str = "") -> list[ChunkOut]:
    out: list[ChunkOut] = []
    for ck in chunks:
        if not ck.strip():  # tokenize_chunks skips empties (__init__.py:238)
            continue
        out.append(
            ChunkOut(
                chunk_idx=len(out),
                chunk_text=remove_tag(ck),
                tag_text=ck,
                spans=parse_spans(ck),
                title=title,
            )
        )
    return out


# -------------------------------------------------------------- sections


def _page_range(cfg: dict | None) -> tuple[int, int]:
    """Task page window from cfg (the from_page/to_page a production task
    row carries, rag/svr/task_executor.py:209-240)."""
    cfg = cfg or {}
    return int(cfg.get("from_page", 0)), int(cfg.get("to_page", 100000))


def _layout_parse_ocr_fallback(blob: bytes, lang: str, cfg: dict, **kw):
    """``layout_parse`` with the scanned-PDF fallback, shared by every
    PDF template branch (naive/book/laws via sections_for, paper, qa,
    manual): when the text layer yields nothing at all — an image-only
    scan — OCR the embedded page rasters and rerun the SAME layout
    pipeline over the OCR boxes. Mirrors the reference, whose char and
    OCR boxes share one downstream (pdf_parser.py ``__ocr`` feeding
    ``_layouts_rec``), so each template's own merge/TOC/two-column flags
    (in ``kw``) apply identically to scanned input."""
    from ragflow_spark.core.pdf_layout import layout_parse, scanned_pdf_pages

    secs, tbls = layout_parse(blob, lang, return_tables=True,
                              pages=cfg.get("_pdf_pages"), **kw)
    if not secs and not tbls:
        ocr_pages = scanned_pdf_pages(blob, cfg)
        if ocr_pages is not None:
            secs, tbls = layout_parse(blob, lang, return_tables=True,
                                      pages=ocr_pages, **kw)
    return secs, tbls


def sections_for(blob: bytes, fmt: str, cfg: dict,
                 pdf_layout: bool = True, lang: str = "English",
                 pdf_merge_mode: str = "updown",
                 ) -> tuple[list, list[str], str]:
    """Format dispatch (rag/app/naive.py:209-289) → (sections, tables,
    title). ``tables`` carries the *naive-template contract* renders —
    standalone chunk payloads emitted BEFORE the merged text chunks
    (``res = tokenize_table(tbls, …)`` then ``res.extend(tokenize_chunks)``,
    naive.py:214-231,261): HTML strings for md (markdown-pkg shape,
    naive.py:180-181), docx (colspan form, naive.py:104-122) and the PDF
    TSR-lite tier (position tag riding inline).

    ``pdf_layout`` mirrors the reference's ``layout_recognize`` switch
    (naive.py:232-234): True → the heuristic layout path with position tags
    (spans); False → PlainParser-style tag-free lines."""
    token_num = int(cfg.get("chunk_token_num", 128))
    if fmt in ("html", "htm"):
        secs = html_extract.parse_html_bytes(blob)
        title = secs[0] if secs else ""
        return [(s, "") for s in secs if s], [], title
    if fmt in ("txt", "text", "code"):
        return txt.parse_txt_bytes(
            blob, token_num, cfg.get("delimiter", txt.DEFAULT_DELIMITER)
        ), [], ""
    if fmt in ("md", "markdown"):
        sections, tables = markdown.parse_markdown_bytes(blob, token_num)
        rendered = [markdown.render_table_html(t) for t in tables]
        return list(sections), [t for t in rendered if t], ""
    if fmt == "json":
        secs = jsonsplit.JsonSplitter(token_num).split_text_bytes(blob)
        return [(s, "") for s in secs if s], [], ""
    if fmt == "pdf":
        fp, tp = _page_range(cfg)
        if pdf_layout:
            # W5 up-down concat is the naive/one PDF merge tier
            # (naive.py:150, one.py:47); laws passes "naive" for its bare
            # _naive_vertical_merge (laws.py:126); book passes "book" =
            # W4 → box-level TOC filter → W6 same-bullet merge
            # (book.py:46-50)
            secs, tbls = _layout_parse_ocr_fallback(
                blob, lang, cfg, from_page=fp, to_page=tp,
                merge_mode=("naive" if pdf_merge_mode == "book"
                            else pdf_merge_mode),
                toc_filter=pdf_merge_mode == "book",
                same_bullet=pdf_merge_mode == "book",
            )
            # table chunks carry their position tag inline; _finish strips
            # it into chunk_text and parses the spans
            return secs, [html + tag for html, tag in tbls], ""
        return pdf_mini.plain_parse(blob, fp, tp), [], ""
    if fmt in ("xlsx", "xls"):
        from ragflow_spark.core import office

        if cfg.get("html4excel"):
            return [(s, "") for s in office.xlsx_to_html_chunks(blob, 12) if s], [], ""
        return [(s, "") for s in office.parse_xlsx(blob) if s], [], ""
    if fmt in ("pptx", "ppt"):
        from ragflow_spark.core import office

        return [(s, "") for s in office.parse_pptx(blob) if s], [], ""
    if fmt == "docx":
        from ragflow_spark.core import office

        secs, _row_tables = office.parse_docx(blob)
        secs = office.parse_docx_caption_pairs(secs)
        return (
            [(t, "") for t, _style in secs if t],
            [t for t in office.docx_tables_html(blob) if t],
            "",
        )
    if fmt == "doc":
        # legacy binary Word: the reference Tika path yields plain content
        # lines (naive.py:277-284 — split('\n'), non-empty)
        from ragflow_spark.core.doc_legacy import extract_doc_text

        lines = extract_doc_text(blob).split("\n")
        return [(ln, "") for ln in lines if ln], [], ""
    raise NotImplementedError(f"format not supported yet: {fmt}")


# -------------------------------------------------------------- templates


def chunk_naive(blob: bytes, fmt: str, lang: str = "English",
                cfg: dict | None = None) -> list[ChunkOut]:
    """Table renders become standalone chunks BEFORE the merged text chunks
    (``res = tokenize_table(tbls, …); res.extend(tokenize_chunks(…))``,
    rag/app/naive.py:214-231,261-262)."""
    cfg = {**DEFAULT_CFG, **(cfg or {})}
    sections, tables, title = sections_for(
        blob, fmt, cfg, pdf_layout=cfg.get("layout_recognize", True), lang=lang
    )
    chunks = naive_merge(
        sections, int(cfg["chunk_token_num"]), cfg.get("delimiter", "\n!?。；！？")
    )
    return _finish([*tables, *chunks], title)


def chunk_book(blob: bytes, fmt: str, lang: str = "English",
               cfg: dict | None = None) -> list[ChunkOut]:
    """rag/app/book.py:58-142. The reference samples sections with unseeded
    ``random.choices`` for the eng flag and the bullet vote; for determinism
    we pass the full section list (SURVEY §7.3.2 documents this deviation —
    the vote over all sections is the vote the sample estimates)."""
    cfg = {**DEFAULT_CFG, **(cfg or {})}
    title = ""
    table_chunks: list[str] = []
    if fmt in ("txt", "text"):
        # book's txt branch splits raw lines, no token pre-merge
        # (rag/app/book.py:90-93)
        raw = decode_bytes(blob)
        sections = [(ln, "") for ln in raw.split("\n") if ln]
    elif fmt == "docx":
        # book's docx path uses the deepdoc DocxParser form: tables go
        # through __compose_table_content (stacked-header `h: cell` lines,
        # docx_parser.py:30-111), one tbls entry per TABLE, each batched
        # by 10 rows with the language delimiter (book.py:71-80 +
        # tokenize_table's rows branch, rag/nlp/__init__.py:280-287)
        from ragflow_spark.core import office

        secs, _row_tables = office.parse_docx(blob)
        secs = office.parse_docx_caption_pairs(secs)
        sections = [(t, "") for t, _style in secs if t]
        de = "; " if lang.lower() == "english" else "； "
        table_chunks = []
        for grid in office.docx_table_grids(blob):
            lns = office.compose_table_content(grid)
            for i in range(0, len(lns), 10):
                table_chunks.append(de.join(lns[i:i + 10]))
    else:
        sections, table_chunks, title = sections_for(
            blob, fmt, cfg, pdf_layout=cfg.get("layout_recognize", True),
            lang=lang, pdf_merge_mode="book",  # book.py:46-50: W4+F5+W6
        )
    if fmt in ("txt", "text", "html", "htm"):
        texts_only = [t for t, _ in sections]
        remove_contents_table(sections, eng=is_english(texts_only))
    make_colon_as_title(sections)
    bull = bullets_category([t for t, _ in sections])
    if bull >= 0:
        chunks = ["\n".join(ck) for ck in hierarchical_merge(bull, sections, 5)]
    else:
        split_pairs = []
        for s, _ in sections:
            parts = s.split("@")
            split_pairs.append(
                (parts[0], "@" + parts[1]) if len(parts) == 2 else (parts[0], "")
            )
        chunks = naive_merge(
            split_pairs, cfg.get("chunk_token_num_book", 256), "\n。；！？"
        )
    # tables first (book.py:139: res = tokenize_table before the merge)
    return _finish([*table_chunks, *chunks], title)


def chunk_paper(blob: bytes, fmt: str, lang: str = "English",
                cfg: dict | None = None) -> list[ChunkOut]:
    """rag/app/paper.py:131-199, PlainParser branch (layout_recognize=False):
    pivot on the most frequent title level, merge runs between pivots."""
    cfg = {**DEFAULT_CFG, **(cfg or {})}
    table_chunks: list[str] = []
    if fmt in ("txt", "text"):
        # paper expects PlainParser-shaped sections (one line each,
        # paper.py:140-146); for txt input that is a raw line split
        raw = decode_bytes(blob)
        sections, title = [(ln, "") for ln in raw.split("\n") if ln], ""
    elif fmt == "pdf" and cfg.get("layout_recognize", True):
        # layout branch (paper.py:148-150): two-column detection + X-first
        # reorder; tags ride inside the text exactly as paper.py:125-127;
        # tables become standalone chunks first (paper.py:162)
        fp, tp = _page_range(cfg)
        secs, tbls = _layout_parse_ocr_fallback(
            blob, lang, cfg, from_page=fp, to_page=tp,
            two_column=True, merge_mode="updown", toc_filter=True)
        # clean mess (paper.py:58-59): strip + collapse whitespace runs
        # BEFORE the tag attaches — a whitespace-only box becomes an
        # empty section that still joins with its \n (fuzz A/B pins it)
        sections = [(_WS_RUNS.sub(" ", t.strip()) + tag, "")
                    for t, tag in secs]
        title = ""
        table_chunks = [html + tag for html, tag in tbls]
    else:
        # PlainParser branch (paper.py:139-146): no table tier
        sections, _tables, title = sections_for(blob, fmt, cfg,
                                                pdf_layout=False)
    bull = bullets_category([t for t, _ in sections])
    most_level, levels = title_frequency(bull, sections)
    sec_ids = []
    sid = 0
    for i, lvl in enumerate(levels):
        if lvl <= most_level and i > 0 and lvl != levels[i - 1]:
            sid += 1
        sec_ids.append(sid)
    chunks: list[str] = []
    last_sid = -2
    for (text, _), sec_id in zip(sections, sec_ids):
        if sec_id == last_sid:
            if chunks:
                chunks[-1] += "\n" + text
                continue
        chunks.append(text)
        last_sid = sec_id
    return _finish([*table_chunks, *chunks], title)


def chunk_one(blob: bytes, fmt: str, lang: str = "English",
              cfg: dict | None = None) -> list[ChunkOut]:
    """rag/app/one.py:59-126 — the whole document becomes a single chunk;
    table renders flow INTO the joined text (one.py:51-55 appends table rows
    into sections; position-sort approximated by appending after the text).
    txt/md/doc take RAW non-empty lines (one.py:85-105) — no token-budget
    pre-merge — which the end-to-end A/B pins."""
    cfg = {**DEFAULT_CFG, **(cfg or {})}
    if fmt in ("txt", "text", "md", "markdown"):
        raw = decode_bytes(blob)
        sections, tables, title = [(s, "") for s in raw.split("\n") if s], [], ""
    elif fmt == "doc":
        from ragflow_spark.core.doc_legacy import extract_doc_text

        sections = [(s, "") for s in extract_doc_text(blob).split("\n") if s]
        tables, title = [], ""
    elif fmt == "docx":
        # one.py:68-70 routes docx through laws.Docx()'s hierarchy walk
        sections = [(s, "") for s in _laws_docx_sections(blob) if s]
        tables, title = [], ""
    elif fmt in ("xlsx", "xls"):
        # one.py:81-84: ExcelParser.html with a huge chunk_rows — one
        # <table> render per sheet
        from ragflow_spark.core import office

        sections = [
            (s, "") for s in office.xlsx_to_html_chunks(blob, 1_000_000_000)
            if s
        ]
        tables, title = [], ""
    else:
        # one.py:74-76: layout_recognize=False routes to PlainParser —
        # tag-free text lines, no table tier
        sections, tables, title = sections_for(
            blob, fmt, cfg,
            pdf_layout=cfg.get("layout_recognize", True), lang=lang,
        )
    if fmt == "pdf" and cfg.get("layout_recognize", True):
        # one.py:49-56: table renders INTERLEAVE into the text at their
        # page position — Pdf sorts text boxes + table rows together by
        # (page, top, left) of the first position before chunk() joins
        # them (stable sort: original order breaks ties). r5: the
        # append-after-text approximation this replaces was caught by the
        # table fuzz A/B.
        def _first_pos(tag: str):
            # coords may be negative (line_tag formats raw box math:
            # x0 < 0 from a negative Td, top < 0 above the page origin)
            m = re.match(
                r"@@([0-9-]+)\t(-?[0-9.]+)\t-?[0-9.]+\t(-?[0-9.]+)\t",
                tag or "")
            if not m:
                return (1 << 30, 0.0, 0.0)
            return (int(m.group(1).split("-")[0]), float(m.group(3)),
                    float(m.group(2)))

        items = [(_first_pos(tag), t) for t, tag in sections]
        for t in tables:
            if not t:
                continue
            m = re.search(r"@@[\t0-9.-]+?##", t)
            items.append((_first_pos(m.group(0) if m else ""), t))
        items.sort(key=lambda x: x[0])
        joined = "\n".join(t for _, t in items if t)
    else:
        joined = "\n".join(
            [t for t, _ in sections if t] + [t for t in tables if t]
        )
    return _finish([joined] if joined else [], title)


def chunk_presentation(blob: bytes, fmt: str, lang: str = "English",
                       cfg: dict | None = None) -> list[ChunkOut]:
    """rag/app/presentation.py:90+ — one chunk per slide/page."""
    cfg = {**DEFAULT_CFG, **(cfg or {})}
    if fmt in ("pptx", "ppt"):
        from ragflow_spark.core import office

        slides = office.parse_pptx(blob)
    elif fmt == "pdf" and not cfg.get("layout_recognize", True):
        # presentation.py:79-88 PlainPdf: ONE chunk per page, the raw
        # per-page extract_text (blank lines kept, no __garbage filter);
        # empty pages keep their chunk via the shared finisher below
        fp, tp = _page_range(cfg)
        pages = pdf_mini.extract_text_lines(blob)[fp:tp]
        slides = ["\n".join(lines) for lines in pages]
    elif fmt == "pdf":
        # per-line garbage filter (presentation.py:52-57 __garbage):
        # numeric/punct-only lines and stubs under 3 chars drop
        def _garbage(t: str) -> bool:
            t = t.lower().strip()
            return bool(re.match(r"[0-9\.,%/-]+$", t)) or len(t) < 3

        # presentation.Pdf reads the raw __images__ boxes per page BEFORE
        # any layout pass (presentation.py:59-71): box-granular y-first
        # order, its own __garbage filter, "\n"-joined per page — never
        # the W3/W4 merge tiers
        from ragflow_spark.core.pdf_layout import mean_heights, sort_y_first

        fp, tp = _page_range(cfg)
        pages = (cfg.get("_pdf_pages")
                 or pdf_mini.extract_boxes(blob))[fp:tp]
        mh = mean_heights(pages)
        slides = [
            "\n".join(
                b["text"] for b in sort_y_first(page, mh[pn] / 3)
                if not _garbage(b["text"])
            )
            for pn, page in enumerate(pages)
        ]
    else:
        raise NotImplementedError(
            f"presentation template: unsupported format {fmt}"
        )
    # EVERY slide/page yields a chunk, empty ones included: presentation
    # bypasses tokenize_chunks and calls tokenize(d, txt) per page
    # unconditionally (presentation.py:105-116 pptx, :121-133 pdf), so a
    # blank page keeps its chunk slot — _finish's empty filter would
    # shift every later page's index (probed against the reference on a
    # blank-middle-page PDF, both layout and plain branches)
    out: list[ChunkOut] = []
    for s in slides:
        out.append(ChunkOut(
            chunk_idx=len(out),
            chunk_text=remove_tag(s),
            tag_text=s,
            spans=parse_spans(s),
            title="",
        ))
    return out


_QA_PREFIX = re.compile(
    r"^(问题|答案|回答|user|assistant|Q|A|Question|Answer|问|答)[\t:： ]+",
    re.IGNORECASE,
)


def _rm_qa_prefix(txt: str) -> str:
    return _QA_PREFIX.sub("", txt.strip())


def chunk_qa(blob: bytes, fmt: str, lang: str = "English",
             cfg: dict | None = None) -> list[ChunkOut]:
    """rag/app/qa.py:294-408 — one chunk per Q/A pair.

    txt/csv: delimiter voted between tab and comma per line counts
    (qa.py:322-327); non-2-column lines extend the running answer; chunk
    text is ``Question: q\\tAnswer: a`` with label prefixes stripped first
    (``beAdoc``/``rmPrefix``, qa.py:251-285). xlsx: column 0 = question,
    column 1 = answer, headerless (qa.py:29-67). pdf: question-bullet walk
    over line-level boxes (qa.py:72-160). md: '#'-level question stack
    (qa.py:364-396). docx: Heading-N question stack, table chunks first
    (qa.py:398-406)."""
    eng = lang.lower() == "english"
    qprefix = "Question: " if eng else "问题："
    aprefix = "Answer: " if eng else "回答："
    pairs: list[tuple[str, str]] = []
    table_chunks: list[str] = []
    if fmt in ("xlsx", "xls"):
        from ragflow_spark.core import office

        for _sheet, rows in office._xlsx_sheets(blob):
            for r in rows:
                vals = [v for v in r if v]
                if len(vals) >= 2:
                    pairs.append((str(vals[0]), str(vals[1])))
    elif fmt in ("txt", "csv", "text"):
        lines = decode_bytes(blob).split("\n")
        comma = sum(1 for ln in lines if len(ln.split(",")) == 2)
        tab = sum(1 for ln in lines if len(ln.split("\t")) == 2)
        delim = "\t" if tab >= comma else ","
        question = answer = ""
        for ln in lines:
            arr = ln.split(delim)
            if len(arr) != 2:
                if question:
                    answer += "\n" + ln
                continue
            if question and answer:
                pairs.append((question, answer))
            question, answer = arr
        if question:
            pairs.append((question, answer))
    elif fmt == "pdf":
        from ragflow_spark.core import qa as qa_core

        # qa ignores the task page window: rag/app/qa.py:294 takes no
        # from_page/to_page (they land in **kwargs) and qa.py:355-357
        # hardcodes to_page=10000 — every production task re-parses the
        # whole document up to that cap (a >10000-page PDF is silently
        # truncated there; mirror the cap exactly, ADVICE r5)
        secs, tbls = _layout_parse_ocr_fallback(
            blob, lang, cfg, from_page=0, to_page=10000, merge_mode="none")
        # full-document heights, NOT window-sliced: position tags carry
        # document-absolute page numbers, so the cum-offset lookup must
        # index the real page list
        try:
            heights = pdf_mini.page_heights(blob)
        except Exception:
            heights = None
        pairs = qa_core.qa_pairs_from_pdf(secs, tbls, page_heights=heights)
    elif fmt in ("md", "markdown"):
        from ragflow_spark.core import qa as qa_core

        pairs = qa_core.qa_pairs_from_markdown(decode_bytes(blob))
    elif fmt == "docx":
        from ragflow_spark.core import qa as qa_core

        pairs, table_chunks = qa_core.qa_pairs_from_docx(blob)
    else:
        raise NotImplementedError(f"qa template: unsupported format {fmt}")
    chunks = [
        "\t".join([qprefix + _rm_qa_prefix(q), aprefix + _rm_qa_prefix(a)])
        for q, a in pairs
        if q.strip()
    ]
    # docx tables first (qa.py:402 res = tokenize_table before the pairs)
    return _finish([*table_chunks, *chunks])


def _laws_docx_sections(blob: bytes) -> list[str]:
    """laws.py:56-99 ``Docx.__call__``: paragraph → (question_level, text)
    via Heading-N style or the voted bullet bank (rag/nlp
    docx_question_level, :514-524), then the outline walk — each node
    joined with its children at the first non-empty deeper level."""
    from ragflow_spark.core import office
    from ragflow_spark.core.patterns import BULLET_PATTERN, bullets_category

    paras, _tables = office.parse_docx(blob)
    bull = bullets_category([t for t, _ in paras])

    def q_level(text: str, style: str) -> tuple[int, str]:
        txt = re.sub(r"　", " ", text).strip()
        if style.startswith("Heading"):
            return int(style.split(" ")[-1]), txt
        if bull < 0:
            return 0, txt
        for j, pat in enumerate(BULLET_PATTERN[bull]):
            if re.match(pat, txt):
                return j + 1, txt
        return len(BULLET_PATTERN[bull]), txt

    lines = []
    for text, style in paras:
        ql, pt = q_level(text, style)
        if not pt.strip("\n"):
            continue
        lines.append((ql, pt))

    visit = [False] * len(lines)
    sections: list[str] = []
    for s in range(len(lines)):
        e = s + 1
        while e < len(lines):
            if lines[e][0] <= lines[s][0]:
                break
            e += 1
        if e - s == 1 and visit[s]:
            continue
        sec: list[str] = []
        next_level = lines[s][0] + 1
        while not sec and next_level < 22:
            for i in range(s + 1, e):
                if lines[i][0] != next_level:
                    continue
                sec.append(lines[i][1])
                visit[i] = True
            next_level += 1
        sec.insert(0, lines[s][1])
        sections.append("\n".join(sec))
    return [s for s in sections if s]


def chunk_laws(blob: bytes, fmt: str, lang: str = "English",
               cfg: dict | None = None) -> list[ChunkOut]:
    """rag/app/laws.py:134-200: sections → remove_contents_table →
    make_colon_as_title → bullets_category vote → hierarchical_merge
    depth 5, chunks joined with newlines."""
    cfg = {**DEFAULT_CFG, **(cfg or {})}
    eng = lang.lower() == "english"
    if fmt == "docx":
        # the laws docx path RETURNS EARLY with its own hierarchy walk
        # (laws.py:56-99 Docx.__call__ → laws.py:151-156): question levels
        # from Heading styles / the voted bullet bank, each outline node
        # joined with its first non-empty child level — no contents-table
        # removal, no hierarchical_merge
        return _finish(_laws_docx_sections(blob))
    if fmt in ("txt", "text"):
        sections = [(ln, "") for ln in decode_bytes(blob).split("\n") if ln]
    else:
        # laws reads paragraphs only — tables are dropped (rag/app/laws.py
        # has no tokenize_table call; its docx path iterates Document
        # paragraphs exclusively, laws.py:36-53)
        sections, _tables, _title = sections_for(
            blob, fmt, cfg, lang=lang,
            # laws.py:157-159: layout_recognize=False routes to
            # PlainParser (tag-free lines, poss="")
            pdf_layout=cfg.get("layout_recognize", True),
            # laws.Pdf runs _layouts_rec → W4 only: no W3 text merge, no
            # table extraction (laws.py:118-133)
            pdf_merge_mode="laws",
        )
        if fmt == "pdf":
            # laws.py:162-163 folds the position tag INTO the section text
            # before the vote/merge chain (txt + poss) — end-anchored rules
            # (make_colon_as_title, $-patterns) must see the tagged string
            sections = [(t + o, "") for t, o in sections if t]
        else:
            sections = [(t, o) for t, o in sections if t]
    remove_contents_table(sections, eng)
    make_colon_as_title(sections)
    bull = bullets_category([t for t, _ in sections])
    merged = hierarchical_merge(bull, sections, 5)
    return _finish(["\n".join(ck) for ck in merged if ck])


def chunk_email(blob: bytes, fmt: str, lang: str = "English",
                cfg: dict | None = None) -> list[ChunkOut]:
    """rag/app/email.py:25-105 — header lines + text/plain payloads go
    through the txt parser, text/html payloads through the HTML parser,
    everything naive-merged; attachments recurse into the naive template by
    extension (failures skipped, email.py:96-103)."""
    import io
    from email import policy
    from email.parser import BytesParser

    cfg = {**DEFAULT_CFG, **(cfg or {})}
    msg = BytesParser(policy=policy.default).parse(io.BytesIO(blob))
    text_txt: list[str] = []
    html_txt: list[str] = []
    for header, value in msg.items():
        text_txt.append(f"{header}: {value}")

    def _add_content(m, content_type: str) -> None:
        if content_type == "text/plain":
            text_txt.append(
                m.get_payload(decode=True).decode(
                    m.get_content_charset() or "utf-8", "ignore"
                )
            )
        elif content_type == "text/html":
            html_txt.append(
                m.get_payload(decode=True).decode(
                    m.get_content_charset() or "utf-8", "ignore"
                )
            )
        elif "multipart" in content_type and m.is_multipart():
            for part in m.iter_parts():
                _add_content(part, part.get_content_type())

    _add_content(msg, msg.get_content_type())
    sections = txt.parse_txt("\n".join(text_txt), 128, txt.DEFAULT_DELIMITER)
    # email.py:77-79 parses the html side UNCONDITIONALLY: with no
    # text/html part, parser_txt("") still yields ["[no-title]"] which
    # rides into the merge — quirk kept.
    sections += [
        (ln, "")
        for ln in html_extract.parser_txt("\n".join(html_txt))
        if ln
    ]
    chunks = naive_merge(
        sections, int(cfg["chunk_token_num"]), cfg.get("delimiter", "\n!?。；！？")
    )
    out = _finish(chunks)
    for part in msg.iter_attachments():
        disp = part.get("Content-Disposition")
        if not disp or disp.strip().split(";")[0].lower() != "attachment":
            continue
        name = part.get_filename() or ""
        ext = name.rsplit(".", 1)[-1].lower() if "." in name else ""
        payload = part.get_payload(decode=True)
        try:
            attached = chunk_naive(payload, ext, lang, cfg)
        except Exception:
            continue
        for ck in attached:
            ck.chunk_idx = len(out)
            out.append(ck)
    return out


_WS_RUNS = re.compile(r"([\t 　]|　){2,}")


def chunk_manual(blob: bytes, fmt: str, lang: str = "English",
                 cfg: dict | None = None) -> list[ChunkOut]:
    """rag/app/manual.py:168-266. PDF: sections leveled by outline-bigram
    match (>10% outline coverage) or bullet title frequency, then packed by
    the 32/1024-token rule with tables riding inline (sec_id -1) AND as
    standalone table chunks first. DOCX: Heading-style question stack, one
    chunk per (question-path, answer) pair."""
    from ragflow_spark.core.tokens import num_tokens_from_string

    cfg = {**DEFAULT_CFG, **(cfg or {})}
    eng = lang.lower() == "english"
    if fmt == "docx":
        return _manual_docx(blob, lang)
    if fmt != "pdf":
        raise NotImplementedError(
            "manual template: file type not supported yet(pdf and docx supported)"
        )
    if cfg.get("layout_recognize", True):
        # manual.py:60-61: W5 concat + TOC filter before outline leveling
        fp, tp = _page_range(cfg)
        secs, tbls = _layout_parse_ocr_fallback(
            blob, lang, cfg, from_page=fp, to_page=tp,
            merge_mode="updown", toc_filter=True)
        # clean mess (manual.py:65-66 — lives in manual.Pdf.__call__, so
        # LAYOUT branch only). Empty sections are KEPT: the reference's
        # level walk runs over every box (a cleaned-to-empty box still
        # occupies a levels slot and can split a sec_id run — fuzz A/B
        # seed 8 pins this)
        sections = [(_WS_RUNS.sub(" ", t.strip()), tag) for t, tag in secs]
    else:
        fp, tp = _page_range(cfg)
        # PlainParser lines pass through RAW (whitespace-only lines kept
        # verbatim — manual.py:182-187 applies no cleanup on this branch)
        sections = pdf_mini.plain_parse(blob, fp, tp)
        tbls = []
    outlines = pdf_mini.extract_outlines(blob)
    if sections and outlines and len(outlines) / len(sections) > 0.1:
        # outline-driven levels (manual.py:191-206): bigram-set overlap > 0.8
        max_lvl = max(lvl for _t, lvl in outlines)
        most_level = max(0, max_lvl - 1)
        levels = []
        for text, _tag in sections:
            for t, lvl in outlines:
                tks = {t[i] + t[i + 1] for i in range(len(t) - 1)}
                tks_ = {
                    text[i] + text[i + 1]
                    for i in range(min(len(t), len(text) - 1))
                }
                if len(tks & tks_) / max(len(tks), len(tks_), 1) > 0.8:
                    levels.append(lvl)
                    break
            else:
                levels.append(max_lvl + 1)
    else:
        bull = bullets_category([t for t, _ in sections])
        most_level, levels = title_frequency(bull, sections)
    sec_ids = []
    sid = 0
    for i, lvl in enumerate(levels):
        if lvl <= most_level and i > 0 and lvl != levels[i - 1]:
            sid += 1
        sec_ids.append(sid)
    entries = [
        (text, sec_ids[i], tag) for i, (text, tag) in enumerate(sections)
    ]
    # tables ride the packed stream with sec_id -1 (manual.py:223-226) and
    # ALSO emit standalone first via the tokenize_table pass below — both,
    # exactly as the reference does
    entries.extend((html, -1, tag) for html, tag in tbls)

    def sort_key(e):
        spans = parse_spans(e[2])
        if not spans:
            return (0, 0.0, 0.0)
        s = spans[0]
        return (s.page, s.top, s.left)

    chunks: list[str] = []
    last_sid = -2
    tk_cnt = 0
    for text, sec_id, tag in sorted(entries, key=sort_key):
        if tk_cnt < 32 or (tk_cnt < 1024 and (sec_id == last_sid or sec_id == -1)):
            if chunks:
                chunks[-1] += "\n" + text + tag
                tk_cnt += num_tokens_from_string(text)
                continue
        chunks.append(text + tag)
        tk_cnt = num_tokens_from_string(text)
        if sec_id > -1:
            last_sid = sec_id
    table_chunks = [html + tag for html, tag in tbls]
    return _finish([*table_chunks, *chunks])


_HEADING_RE = re.compile(r"Heading\s*(\d+)")


def _manual_docx(blob: bytes, lang: str) -> list[ChunkOut]:
    """manual.py Docx path (manual.py:107-166 + 253-263): Heading-N styles
    build a question stack; each flush joins the question path with the
    accumulated answer into one chunk; tables (colspan HTML) come first."""
    from ragflow_spark.core import office

    # keep_empty: the reference walks doc.paragraphs — every empty
    # paragraph appends a bare "\n" to last_answer (manual.py:112-121,
    # question_level stays 0 because p.text.strip() gates the level
    # check), and both flushes test last_answer truthiness, not strip
    secs, _rows = office.parse_docx(blob, keep_empty=True)
    ti_list: list[str] = []
    question_stack: list[str] = []
    level_stack: list[int] = []
    last_answer = ""
    for text, style in secs:
        level, p_text = 0, ""
        if text.strip():
            p_text = re.sub(r"　", " ", text).strip()
            m = _HEADING_RE.match(style or "")
            level = int(m.group(1)) if m else 0
        if not level or level > 6:  # not a question
            last_answer = f"{last_answer}\n{p_text}"
            continue
        if last_answer:
            sum_question = "\n".join(question_stack)
            if sum_question:
                ti_list.append(f"{sum_question}\n{last_answer}")
            last_answer = ""
        while question_stack and level <= level_stack[-1]:
            question_stack.pop()
            level_stack.pop()
        question_stack.append(p_text)
        level_stack.append(level)
    if last_answer:
        sum_question = "\n".join(question_stack)
        if sum_question:
            ti_list.append(f"{sum_question}\n{last_answer}")
    tables = office.docx_tables_html(blob)
    return _finish([*tables, *ti_list])


def chunk_table(blob: bytes, fmt: str, lang: str = "English",
                cfg: dict | None = None) -> list[ChunkOut]:
    """rag/app/table.py:123-240 — one chunk per spreadsheet/CSV row as
    ``header:value; ...`` with per-column type-voted value transforms
    (core/table_template.py). from_page/to_page are ROW indices (the
    3000-row production task split, task_service.py:188-196)."""
    from ragflow_spark.core.table_template import table_rows

    cfg = cfg or {}
    if fmt not in ("xlsx", "xls", "txt", "csv", "text"):
        raise NotImplementedError(
            "file type not supported yet(excel, text, csv supported)")
    rows = table_rows(
        blob, fmt,
        int(cfg.get("from_page", 0)),
        int(cfg.get("to_page", 10_000_000_000)),
        cfg.get("delimiter", "\t"),
    )
    return _finish(rows)


def chunk_picture(blob: bytes, fmt: str, lang: str = "English",
                  cfg: dict | None = None) -> list[ChunkOut]:
    """rag/app/picture.py:26-50 — OCR the image; when the joined OCR text
    clears the length gate (>32 English words or >32 chars), the text IS
    the single chunk. Below the gate the reference falls through to a
    vision-LLM caption (LLMBundle IMAGE2TEXT) — out of scope per SURVEY
    §2.9; mirroring the reference's LLM-failure path (callback(-1),
    return []), this returns [] and the caller sees zero chunks.

    Pixels come from the real BMP codec (core/bmp.py) for .bmp bytes, or
    raw (h·w·3) RGB via ``cfg["width"]/cfg["height"]`` for pre-decoded
    input (the multimodal contract — compressed codecs stay stubbed).
    The OCR is ``operators.detect.ocr_image_boxes`` (quads dropped).
    ``cfg["ocr_backend"]`` selects the detector/recognizer backend
    ("none" honest default / "fake" deterministic / "onnx", which needs
    ``cfg["det_model_path"]`` and ``cfg["rec_model_path"]`` — missing
    ones raise ValueError)."""
    import numpy as np

    cfg = dict(cfg or {})
    if fmt == "bmp":
        from ragflow_spark.core.bmp import decode_bmp

        im = decode_bmp(blob)
    elif fmt in ("raw", "rgb"):
        h, w = int(cfg.get("height", 0)), int(cfg.get("width", 0))
        if h * w * 3 != len(blob):
            raise ValueError("raw pixel blob does not match width/height")
        im = np.frombuffer(blob, dtype=np.uint8).reshape(h, w, 3)
    else:
        raise NotImplementedError(
            f"picture template: no codec for format {fmt!r} (bmp or "
            "pre-decoded raw supported; compressed codecs are stubbed "
            "per the multimodal contract)"
        )
    from ragflow_spark.operators.detect import ocr_image_boxes

    lines = ocr_image_boxes(
        im,
        backend=cfg.get("ocr_backend", "none"),
        det_model_path=cfg.get("det_model_path"),
        rec_model_path=cfg.get("rec_model_path"),
    )
    txt = "\n".join(t for _quad, t, _conf in lines if t)
    eng = lang.lower() == "english"
    if (eng and len(txt.split(" ")) > 32) or len(txt) > 32:
        return _finish([txt])
    return []


TEMPLATES = {
    "naive": chunk_naive,
    "general": chunk_naive,   # FACTORY alias (rag/svr/task_executor.py:67)
    "book": chunk_book,
    "paper": chunk_paper,
    "one": chunk_one,
    "presentation": chunk_presentation,
    "qa": chunk_qa,
    "laws": chunk_laws,
    "email": chunk_email,
    "manual": chunk_manual,
    "table": chunk_table,
    "picture": chunk_picture,
}


# production PDF task splitting (api/db/services/task_service.py:164-186):
# 12 pages per task by default, 22 for paper, whole-doc for one/KG and for
# layout_recognize=False. qa is whole-doc as the NET semantics: the task
# service does split qa PDFs into 12-page tasks, but rag/app/qa.py:294
# ignores from_page/to_page (qa.py:355-357 hardcodes to_page=10000), so
# every task emits the identical whole-doc chunk set and the copies
# collapse downstream under the content-md5 chunk id (A8 dedup) — the
# net output is exactly one whole-doc run.
PDF_TASK_PAGES = {"paper": 22, "one": 10 ** 9, "knowledge_graph": 10 ** 9,
                  "qa": 10 ** 9}


def run_template(parser: str, blob: bytes, fmt: str, lang: str = "English",
                 cfg: dict | None = None) -> list[ChunkOut]:
    """Template dispatch + the reference's per-task page windowing: for
    PDFs beyond the parser's task page size, the FULL template runs once
    per page range (exactly task_executor dispatching
    FACTORY[parser].chunk per task row) and the chunk lists concatenate
    in page order. Callers that pass an explicit from_page/to_page in cfg
    are already one task and run as-is."""
    fn = TEMPLATES.get(parser)
    if fn is None:
        raise NotImplementedError(f"parser template not supported: {parser}")
    cfg = cfg or {}
    if fmt == "pdf" and "from_page" not in cfg and "to_page" not in cfg \
            and cfg.get("layout_recognize", True):
        size = int(cfg.get("task_page_size")
                   or PDF_TASK_PAGES.get(parser, 12))
        # parse the char layer ONCE here and thread it through cfg — the
        # single-window case costs nothing extra (the template would have
        # parsed anyway) and multi-window docs slice disjoint ranges
        try:
            all_pages = pdf_mini.extract_boxes(blob)
        except Exception:
            all_pages = None
        if all_pages is not None and len(all_pages) > size:
            npages = len(all_pages)
            out: list[ChunkOut] = []
            for p in range(0, npages, size):
                cks = fn(blob, fmt, lang,
                         {**cfg, "from_page": p,
                          "to_page": min(p + size, npages),
                          "_pdf_pages": all_pages})
                for ck in cks:
                    ck.chunk_idx = len(out)
                    out.append(ck)
            return out
        if all_pages is not None:
            return fn(blob, fmt, lang, {**cfg, "_pdf_pages": all_pages})
    return fn(blob, fmt, lang, cfg)
