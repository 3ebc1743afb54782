"""QA-template extraction for pdf / markdown / docx inputs.

Ports the non-tabular halves of rag/app/qa.py:
- ``qa_pairs_from_pdf``      — the Pdf.__call__ question-bullet walk
  (qa.py:72-160): vote the question-numbering pattern, then scan reading-
  order lines, opening a new Q on a qualifying bullet and folding everything
  else (including interleaved tables, by position) into the running answer.
- ``qa_pairs_from_markdown`` — the '#'-level question stack (qa.py:364-396):
  heading lines push/pop a question path, non-heading lines accumulate into
  the answer, fenced code blocks are opaque.
- ``qa_pairs_from_docx``     — Heading-N styles as question levels
  (qa.py:163-248 Docx.__call__), question paths joined with newlines.
- ``has_qbullet`` — rag/nlp/__init__.py:80-121; the question number it
  captures goes through ``core.numbers.index_int``
  (rag/nlp/__init__.py:122-138).

Deviations (documented): answers from markdown render through
``md_to_html_lite`` (tables via the md table parser + <p> paragraphs)
instead of python-markdown, which is not vendored; PDF questions carry no
cropped images (no raster tier)."""

from __future__ import annotations

import re

from ragflow_spark.core.numbers import index_int
from ragflow_spark.core.patterns import qbullets_category

__all__ = [
    "index_int", "has_qbullet", "md_question_level", "md_to_html_lite",
    "qa_pairs_from_markdown", "qa_pairs_from_docx", "qa_pairs_from_pdf",
    "qbullets_category",
]

def has_qbullet(reg: str, box: dict, last_box: dict, last_index,
                last_bull, bull_x0_list: list):
    """rag/nlp/__init__.py:80-121: does this line open a new question?
    Geometry gates (indent vs the previous line and the running bullet
    margin) weed out continuation lines that merely start with a number."""
    section, last_section = box["text"], last_box["text"]
    q_reg = r"(\w|\W)*?(?:？|\?|\n|$)+"
    full_reg = reg + q_reg
    bull = re.match(full_reg, section)
    if bull:
        if "x0" not in last_box:
            last_box["x0"] = box["x0"]
        if "top" not in last_box:
            last_box["top"] = box["top"]
        if last_bull and box["x0"] - last_box["x0"] > 10:
            return None, last_index
        if not last_bull and box["x0"] >= last_box["x0"] \
                and box["top"] - last_box["top"] < 20:
            return None, last_index
        avg_bull_x0 = (sum(bull_x0_list) / len(bull_x0_list)) \
            if bull_x0_list else box["x0"]
        if box["x0"] - avg_bull_x0 > 10:
            return None, last_index
        index = index_int(bull.group(1))
        if last_section and last_section[-1] in (":", "："):
            return None, last_index
        if not last_index or index >= last_index:
            bull_x0_list.append(box["x0"])
            return bull, index
        if section and section[-1] in ("?", "？"):
            bull_x0_list.append(box["x0"])
            return bull, index
        if box.get("layout_type") == "title":
            bull_x0_list.append(box["x0"])
            return bull, index
        lead = re.match(reg, section)
        pure_section = section[lead.end():].lower() if lead else section.lower()
        if re.match(r"(what|when|where|how|why|which|who|whose|为什么|为啥|哪)",
                    pure_section):
            bull_x0_list.append(box["x0"])
            return bull, index
    return None, last_index


# ------------------------------------------------------------- markdown

def md_question_level(s: str) -> tuple[int, str]:
    """qa.py:289-291 ``mdQuestionLevel``."""
    m = re.match(r"#*", s)
    return (len(m.group(0)), s.lstrip("#").lstrip()) if m else (0, s)


def md_to_html_lite(md_text: str) -> str:
    """Stand-in for ``markdown.markdown(text, extensions=['tables'])``
    (python-markdown is not vendored): pipe tables render through the md
    table parser; the rest becomes <p> paragraphs on blank-line breaks."""
    from ragflow_spark.core.markdown import (
        extract_tables_and_remainder,
        render_table_html,
    )

    remainder, tables = extract_tables_and_remainder(md_text)
    paras = [
        "<p>" + p.strip() + "</p>"
        for p in re.split(r"\n\s*\n", remainder)
        if p.strip()
    ]
    html_tables = [render_table_html(t) for t in tables]
    return "\n".join(paras + [t for t in html_tables if t])


def qa_pairs_from_markdown(txt: str) -> list[tuple[str, str]]:
    """qa.py:364-396: '#'-heading question stack over markdown lines;
    fenced code blocks never open questions; each answer flushes against
    the full question path (levels joined by newline)."""
    lines = txt.split("\n")
    out: list[tuple[str, str]] = []
    last_answer = ""
    question_stack: list[str] = []
    level_stack: list[int] = []
    code_block = False
    for line in lines:
        if line.strip().startswith("```"):
            code_block = not code_block
        level, question = 0, ""
        if not code_block:
            level, question = md_question_level(line)
        if not level or level > 6:
            last_answer = f"{last_answer}\n{line}"
            continue
        if last_answer.strip():
            sum_question = "\n".join(question_stack)
            if sum_question:
                out.append((sum_question, md_to_html_lite(last_answer)))
            last_answer = ""
        while question_stack and level <= level_stack[-1]:
            question_stack.pop()
            level_stack.pop()
        question_stack.append(question)
        level_stack.append(level)
    if last_answer.strip():
        sum_question = "\n".join(question_stack)
        if sum_question:
            out.append((sum_question, md_to_html_lite(last_answer)))
    return out


# ----------------------------------------------------------------- docx

# case-sensitive like the reference: docx_question_level tests
# p.style.name.startswith('Heading') — a custom lowercase 'heading 2'
# style is NOT a question level there
_HEADING_RE = re.compile(r"Heading\s*(\d+)")


def qa_pairs_from_docx(blob: bytes) -> tuple[list[tuple[str, str]], list[str]]:
    """qa.py:163-248 Docx.__call__ minus images: Heading-N paragraphs are
    question levels feeding a path stack; body paragraphs accumulate into
    the answer. Returns (pairs, table HTML chunks — the colspan form the
    qa template emits first)."""
    from ragflow_spark.core import office

    # keep_empty: the reference walks every doc.paragraphs entry — an
    # empty paragraph appends a bare "\n" to last_answer (qa.py:199-203;
    # p.text.strip() gates the level check, so empties are never
    # questions), and both sides of the walk use the 　-normalized
    # STRIPPED p_text that docx_question_level returns
    secs, _row_tables = office.parse_docx(blob, keep_empty=True)
    out: list[tuple[str, str]] = []
    last_answer = ""
    question_stack: list[str] = []
    level_stack: list[int] = []
    for text, style in secs:
        level, p_text = 0, ""
        if text.strip():
            p_text = re.sub(r"　", " ", text).strip()
            m = _HEADING_RE.match(style or "")
            level = int(m.group(1)) if m else 0
        if not level or level > 6:
            last_answer = f"{last_answer}\n{p_text}"
            continue
        if last_answer:
            sum_question = "\n".join(question_stack)
            if sum_question:
                out.append((sum_question, last_answer))
            last_answer = ""
        while question_stack and level <= level_stack[-1]:
            question_stack.pop()
            level_stack.pop()
        question_stack.append(p_text)
        level_stack.append(level)
    if last_answer:
        sum_question = "\n".join(question_stack)
        if sum_question:
            out.append((sum_question, last_answer))
    return out, office.docx_tables_html(blob)


# ------------------------------------------------------------------ pdf

def _tag_fields(tag: str):
    """Parse one @@pn\tx0\tx1\ttop\tbottom## tag → (pn, x0, x1, top, bottom);
    zeros when absent (the reference's empty-tbl sentinel shape)."""
    # coords may be negative (raw box math); the reference parses via
    # split('\t') + float(), which accepts them (qa.py:120,165-167)
    m = re.match(
        r"@@([0-9-]+)\t(-?[0-9.]+)\t(-?[0-9.]+)\t(-?[0-9.]+)\t(-?[0-9.]+)##",
        tag or "")
    if not m:
        return 0.0, 0.0, 0.0, 0.0, 0.0
    pn = float(m.group(1).split("-")[0])
    return (pn, *(float(m.group(i)) for i in range(2, 6)))


def qa_pairs_from_pdf(sections: list[tuple[str, str]],
                      tables: list[tuple[str, str]],
                      page_heights: list[float] | None = None,
                      ) -> list[tuple[str, str]]:
    """qa.py:93-160: line-level boxes (W3 text-merge only — the qa Pdf
    pipeline runs neither vertical merge nor concat), question bullets
    voted by ``qbullets_category``, tables folded into the running answer
    at their page/top position. Raises ValueError when no question
    numbering is recognizable, exactly like the reference."""
    from ragflow_spark.core.updown import match_proj

    q_bull, reg = qbullets_category([t for t, _ in sections])
    if q_bull == -1:
        raise ValueError("Unable to recognize Q&A structure.")

    # cumulative ACTUAL page heights (reference: page_cum_height from the
    # rasterized image sizes, pdf_parser.py __images__); 792/page when the
    # caller has no real heights (non-PDF tag sources, legacy callers)
    cum = [0.0]
    for h in (page_heights or []):
        cum.append(cum[-1] + h)

    def _cum_off(pn: float) -> float:
        i = max(0, int(pn) - 1)
        if i < len(cum):
            return cum[i]
        extra = i - (len(cum) - 1)
        return cum[-1] + extra * 792.0

    boxes = []
    for text, tag in sections:
        pn, x0, _x1, top, bottom = _tag_fields(tag)
        # has_qbullet's spacing veto (top diff < 20, rag/nlp:93) runs on
        # DOC-ABSOLUTE tops in the reference (page_cum_height added by
        # _layouts_rec) — a bullet opening a new page must see the page
        # jump; the table-folding walk below uses the tag's page-local top
        off = _cum_off(pn)
        boxes.append({
            "text": text, "tag": tag, "x0": x0, "top": top + off,
            "tag_top": top, "tag_bottom": bottom, "bottom": bottom + off,
            "pn": pn,
            "layout_type": "title" if match_proj(text.strip()) else "",
        })
    # tables in reading order, parsed once (qa.py:108-113 sort + get_tbls_info)
    tbls = sorted(
        [(_tag_fields(tag), html, tag) for html, tag in tables],
        key=lambda t: (t[0][0], t[0][3]),
    )

    def tbl_info(idx):
        if idx >= len(tbls):
            return 1.0, 0.0, "@@0\t0\t0\t0\t0##", ""
        (pn, _x0, _x1, top, _b), html, tag = tbls[idx]
        return pn, top, tag, html

    qai: list[tuple[str, str]] = []
    last_q, last_a, last_tag = "", "", ""
    last_index = None
    last_box = {"text": ""}
    last_bull = None
    bull_x0_list: list[float] = []
    tbl_index = 0
    last_pn, last_bottom = 0.0, 0.0
    for box in boxes:
        section, line_tag = box["text"], box["tag"]
        bull, index = has_qbullet(reg, box, last_box, last_index, last_bull,
                                  bull_x0_list)
        last_box, last_index, last_bull = box, index, bull
        # the reference re-parses line_top from the TAG (page-local,
        # qa.py:120-121); last_bottom is ALSO page-local (parsed from the
        # last line's tag, qa.py:154) — the r5 fix below mirrors that via
        # box["tag_bottom"]
        line_pn, line_top = box["pn"], box["tag_top"]
        tbl_pn, tbl_top, tbl_tag, tbl_text = tbl_info(tbl_index)
        if not bull:
            if not last_q:
                if tbl_pn < line_pn or (tbl_pn == line_pn
                                        and tbl_top <= line_top):
                    tbl_index += 1
                continue
            sum_tag, sum_section = line_tag, section
            # tbl_index < len(tables): the exhausted-list sentinel (pn=1,
            # top=0) must never fold — with malformed line tags (pn=0) the
            # reference's position conditions alone would loop forever
            while tbl_index < len(tbls) \
                    and ((tbl_pn == last_pn and tbl_top >= last_bottom)
                         or (tbl_pn > last_pn)) \
                    and ((tbl_pn == line_pn and tbl_top <= line_top)
                         or (tbl_pn < line_pn)):
                sum_tag = f"{tbl_tag}{sum_tag}"
                sum_section = f"{tbl_text}{sum_section}"
                tbl_index += 1
                tbl_pn, tbl_top, tbl_tag, tbl_text = tbl_info(tbl_index)
            last_a = f"{last_a}{sum_section}"
            last_tag = f"{last_tag}{sum_tag}"
        else:
            if last_q:
                while tbl_index < len(tbls) \
                        and ((tbl_pn == last_pn and tbl_top >= last_bottom)
                             or (tbl_pn > last_pn)) \
                        and ((tbl_pn == line_pn and tbl_top <= line_top)
                             or (tbl_pn < line_pn)):
                    last_tag = f"{last_tag}{tbl_tag}"
                    last_a = f"{last_a}{tbl_text}"
                    tbl_index += 1
                    tbl_pn, tbl_top, tbl_tag, tbl_text = tbl_info(tbl_index)
                qai.append((last_q, last_a))
                last_q, last_a, last_tag = "", "", ""
            last_q = bull.group()
            _, end = bull.span()
            last_a = section[end:]
            last_tag = line_tag
        # qa.py:154 re-parses last_bottom from the tag — PAGE-LOCAL, the
        # same frame as tbl_top (which comes from the table's tag). Using
        # the doc-absolute bottom here would make the fold condition
        # `tbl_pn == last_pn and tbl_top >= last_bottom` always false on
        # pages >= 2, silently dropping tables from qa chunks.
        last_bottom = box["tag_bottom"]
        last_pn = line_pn
    if last_q:
        qai.append((last_q, last_a))
    return qai
